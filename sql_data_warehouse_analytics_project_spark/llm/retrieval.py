"""Lexical retrieval over the corpus: BM25 index build/update/search +
top-k (north-star extension — no reference counterpart; nearest surface
is the reference's aggregation catalog re-expressed as corpus
statistics, like ``vocab.py``).

Training-data pipelines use lexical retrieval constantly — eval-set
decontamination beyond exact n-gram overlap, targeted corpus audits
("show me the documents most relevant to this prompt"), and hard-negative
mining — and BM25 is the standard scorer. The plan is the classic
inverted-index shape, split the way the IVF ANN path is
(:func:`similarity.build_ivf_index` / ``search_ivf_index``): the corpus
reduces ONCE to a persistable index, each query batch equi-joins the
postings on ITS terms only, and only those postings ever move — never
|corpus| × |queries|, and never a corpus re-scan per query batch.

The index is NORMALIZED on purpose — postings carry (tf, dl) but NOT
idf: idf depends on the global (N, df), so baking it into postings would
force rewriting every posting row whenever a document batch lands.
Instead idf is computed at query time from the vocab-sized
``term_stats`` table (restricted to the query's terms — a few rows), and
:func:`update_bm25_index` can absorb a new batch by appending batch
postings + merging df deltas + bumping two scalars, WITHOUT re-tokenizing
or rewriting history — at 100 TB the historical re-tokenize is the whole
cost, so this is the difference between an index you can maintain and
one you rebuild nightly. Persist with
:func:`sources.writers.write_dataset` (``sort_by=["term"]`` keeps
parquet row-group min/max stats tight on the join key, so a query's
terms prune row groups on read).

Determinism contract (same as ``text.tfidf_top_terms``): scores round to
6 decimals BEFORE ranking and ties break on doc id, so the top-k set and
order are bit-stable across engines and partitionings (float summation
order can differ by an ulp; the pre-rank rounding absorbs it). The
incremental path preserves it exactly: df/n_docs/total_dl arithmetic is
all integer, so an updated index scores bit-identically to a rebuild —
gate-checked (qd46's oracle is the FULL-corpus twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.llm.text import tokens


def _tokenize(corpus: DataFrame, id_col: str, text_col: str):
    """(tf, dl) reductions of a document set.

    ``dl`` derives from the already-reduced ``tf`` (``dl = Σ tf`` per
    doc), NOT from a second aggregation over the exploded tokens — the
    token explode is the corpus-sized pass, and aggregating it twice
    re-tokenizes the whole corpus (Spark recomputes the un-cached
    explode per consumer). One explode feeds one map-side-combined
    (doc, term) shuffle; the doc-length pass then shuffles only the
    REDUCED tf rows. At 100 TB this halves index-build cost."""
    tok = corpus.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
    return tf, dl


def build_bm25_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Build the BM25 inverted index ONCE, search it many times — the
    production retrieval lifecycle (index construction is the expensive,
    corpus-sized part; query batches arrive continuously and must not
    re-reduce the corpus).

    Returns a plain dict index (the IVF-index shape):

    - ``"postings"`` — LAZY DataFrame ``(term, doc, tf, dl)``: one row
      per (term, document) with the term frequency and the document's
      token length. No global statistics baked in (see module docstring).
    - ``"term_stats"`` — LAZY DataFrame ``(term, df)``: document
      frequency per term; vocab-sized, the query-time idf source.
    - ``"n_docs"`` / ``"total_dl"`` — corpus size and total token count
      (json-serializable exact ints; ``avgdl = total_dl / n_docs`` is
      then the identical IEEE double on every engine).
    - ``"id_type"`` — the id column's Spark type (output schema of
      searches, same contract as the IVF index).

    Documents that tokenize to nothing contribute no postings and are
    not counted in ``n_docs`` (they can never match a query). ``k1``/
    ``b`` are query-time scoring knobs, so one persisted index serves
    every tuning. Callers persist the two DataFrames however they like —
    ``localCheckpoint`` for a session, ``write_dataset`` for reuse
    across jobs.

    The (doc, term, tf) reduction is localCheckpointed here (the
    ``update_bm25_index`` discipline): it feeds THREE consumers — the
    n_docs/total_dl scalars collected below, ``term_stats``, and
    ``postings`` — and without the pin each consumer re-executes the
    corpus tokenize + explode (Spark shares no common subtrees across one
    plan), so a build-then-search ran the corpus-sized pass three times
    (measured in qd45's plan: three parquet scans of the corpus feeding
    three separate explode pipelines). One pass is the floor and this is
    it."""
    tf, _ = _tokenize(corpus, id_col, text_col)
    # lazy pin: the n_docs/total_dl collect below is a full scan through
    # dl, so it doubles as the materializing job
    tf = tf.localCheckpoint(eager=False)
    dl = tf.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
    row = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).collect()[0]
    term_stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    postings = tf.join(dl, "doc").select("term", "doc", "tf", "dl")
    return {
        "postings": postings,
        "term_stats": term_stats,
        "n_docs": int(row["n_docs"] or 0),
        "total_dl": int(row["total_dl"] or 0),
        "id_type": dict(corpus.dtypes)[id_col],
    }


def update_bm25_index(
    index: dict,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    assume_disjoint: bool = False,
) -> dict:
    """Absorb a document batch into an existing index WITHOUT
    re-tokenizing history — scores from the returned index are
    bit-identical to a full rebuild over old∪new (gate-checked, qd46).

    Work ∝ batch + vocab, never ∝ corpus text:

    - the batch tokenizes once (it's the only text read);
    - re-ingested doc ids REPLACE their old postings (anti-join of the
      old postings against the batch's broadcast-sized id set — a scan
      of posting metadata, not a re-tokenize);
    - ``term_stats`` merges df deltas (vocab-sized outer join);
    - ``n_docs``/``total_dl`` adjust by exact integer deltas, so the
      downstream idf/avgdl doubles can't drift from a rebuild's.

    ``assume_disjoint=True`` skips the replaced-postings probe (the one
    pass over old postings) when the caller guarantees the batch holds
    only brand-new doc ids — the common append-only ingest. The returned
    dict is a NEW index; the input is untouched (persist-and-swap like
    every other snapshot in this engine)."""
    tf_b, _ = _tokenize(new_docs, id_col, text_col)
    # the batch reduction feeds 3-4 downstream plans — pin it once; dl_b
    # re-derives from the PINNED tf (a tiny agg over reduced rows), so
    # the batch never tokenizes twice and needs no second checkpoint.
    # Lazy: the batch-scalars collect below is the materializing scan.
    tf_b = tf_b.localCheckpoint(eager=False)
    dl_b = tf_b.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
    batch = dl_b.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    n_batch, dl_batch = int(batch["n"] or 0), int(batch["dl_sum"] or 0)

    old_postings: DataFrame = index["postings"]
    # EVERY id in the batch — including docs that tokenize to NOTHING: a
    # re-ingest that empties a document must still retire its old
    # postings (the tombstone case the property test caught), so the id
    # set comes from the raw batch, not from the tokenized reduction
    batch_ids = new_docs.select(F.col(id_col).alias("doc")).distinct()
    if assume_disjoint:
        n_gone, dl_gone = 0, 0
        kept = old_postings
        df_removed = None
    else:
        # the replaced postings (batch-sized — only the re-ingested docs'
        # rows survive the semi join) feed TWO consumers (the gone scalar
        # and df_removed): pin them once so old postings are scanned a
        # single time here instead of once per consumer. The anti-join
        # below is the one further old-postings pass — it IS the output,
        # so two scans total is the floor for a replace. Repeated updates
        # should still persist-and-swap the returned index (module
        # docstring); the pin bounds cost per update, not plan depth.
        replaced = old_postings.join(
            F.broadcast(batch_ids), "doc", "semi"
        ).localCheckpoint(eager=False)  # pinned by the gone collect
        gone = replaced.select("doc", "dl").distinct().agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
        ).collect()[0]
        n_gone, dl_gone = int(gone["n"] or 0), int(gone["dl_sum"] or 0)
        kept = old_postings.join(F.broadcast(batch_ids), "doc", "anti")
        df_removed = (
            replaced.groupBy("term")
            .agg((-F.count(F.lit(1))).alias("delta"))
        )

    df_added = tf_b.groupBy("term").agg(F.count(F.lit(1)).alias("delta"))
    deltas = (
        df_added if df_removed is None
        else df_added.unionByName(df_removed)
    ).groupBy("term").agg(F.sum("delta").alias("delta"))
    term_stats = (
        index["term_stats"]
        .join(deltas, "term", "full")
        .select(
            "term",
            (F.coalesce(F.col("df"), F.lit(0))
             + F.coalesce(F.col("delta"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    postings = kept.unionByName(
        tf_b.join(dl_b, "doc").select("term", "doc", "tf", "dl")
    )
    return {
        "postings": postings,
        "term_stats": term_stats,
        "n_docs": index["n_docs"] - n_gone + n_batch,
        "total_dl": index["total_dl"] - dl_gone + dl_batch,
        "id_type": index["id_type"],
    }


def _bucket_dirs_of(buckets: "dict[str, str]"):
    """Group a manifest bucket map ``{bucket: generation}`` by
    generation: ``{gid: [bucket ints]}`` — one pruned read per
    generation reconstructs the live postings."""
    by_gen: dict[str, list[int]] = {}
    for b, gid in buckets.items():
        by_gen.setdefault(gid, []).append(int(b))
    return by_gen


def _read_postings(spark, root: str, m: dict, only_buckets=None):
    """LIVE postings of a manifest-committed BM25 layout: for every
    generation the bucket map references, read EXACTLY its bucket
    directories (``basePath`` keeps ``_bucket`` a partition column) and
    union. ``only_buckets`` restricts the listing to those buckets — the
    physically partition-pruned scan a document-keyed update rides."""
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    extra = m["extra"]
    sel = None if only_buckets is None else {int(b) for b in only_buckets}
    parts = []
    for gid, bs in _bucket_dirs_of(extra["buckets"]).items():
        want = bs if sel is None else [b for b in bs if b in sel]
        if not want:
            continue
        base = f"{manifest.generation_dir(root, gid)}/postings"
        df = (
            spark.read.option("basePath", base)
            .parquet(*[f"{base}/_bucket={b}" for b in sorted(want)])
            .select("term", "doc", "tf", "dl", "_bucket")
        )
        parts.append(df)
    if not parts:
        id_type = extra["id_type"]
        return spark.createDataFrame(
            [], f"term string, doc {id_type}, tf bigint, dl bigint, _bucket bigint"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_bm25_index(
    index: dict,
    path: str,
    *,
    doc_buckets: int = 64,
) -> None:
    """Persist a BM25 index as a DOC-BUCKETED, MANIFEST-COMMITTED
    on-disk layout (``sources/manifest``)::

        <path>/_MANIFEST.json                 <- atomic pointer (extra
            holds the exact-int scalars, id_type, doc_buckets, a
            bucket->generation map, and the term_stats generation)
        <path>/_generations/<gid>/postings/_bucket=<b>/   term-sorted
        <path>/_generations/<gid>/term_stats/

    Postings partition by ``_bucket = pmod(xxhash64(doc), doc_buckets)``
    and term-sort WITHIN each file, so queries keep parquet row-group
    min/max pruning on the term join key while document-keyed
    maintenance prunes whole bucket DIRECTORIES. The bucket map lets
    :func:`update_bm25_index_on_disk` write ONLY affected buckets into a
    new generation and still publish atomically: unaffected buckets stay
    byte-untouched in their old generations, referenced by the new
    manifest. Readers (:func:`read_bm25_index`) resolve the manifest
    once and see a complete index before or after any update — never a
    mixture and never a maintenance window; the next publish deletes
    the generations neither it nor the previous manifest references
    (``sources/manifest``'s retention rule). Re-running
    ``write_bm25_index`` over a read-back index is the consolidation
    path when updates have scattered buckets across generations."""
    import os

    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        _write_layout,
    )

    root = path.rstrip("/")
    gid, gdir = manifest.new_generation(root)
    bucket = F.pmod(F.xxhash64(F.col("doc")), F.lit(doc_buckets))
    _write_layout(
        index["postings"].withColumn("_bucket", bucket),
        f"{gdir}/postings",
        partition_by=["_bucket"],
        sort_by=["term"],
    )
    _write_layout(index["term_stats"], f"{gdir}/term_stats", sort_by=["term"])
    present = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{gdir}/postings")
        if d.startswith("_bucket=")
    )
    manifest.publish(
        root,
        gid,
        extra={
            "n_docs": int(index["n_docs"]),
            "total_dl": int(index["total_dl"]),
            "id_type": index["id_type"],
            "doc_buckets": int(doc_buckets),
            "buckets": {str(b): gid for b in present},
            "term_stats": gid,
        },
    )


def read_bm25_index(spark, path: str) -> dict:
    """Load a :func:`write_bm25_index` layout into the ``search_bm25``
    index contract by resolving the generation manifest ONCE — the
    returned index is a pinned consistent snapshot; concurrent updates
    publish new manifests without disturbing it (postings/term_stats
    stay lazy scans — the search's term join is the only thing that
    reads them)."""
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    root = path.rstrip("/")
    m = manifest.read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no BM25 index manifest at {root}")
    extra = m["extra"]
    ts_dir = f"{manifest.generation_dir(root, extra['term_stats'])}/term_stats"
    return {
        "postings": _read_postings(spark, root, m).select(
            "term", "doc", "tf", "dl"
        ),
        "term_stats": spark.read.parquet(ts_dir),
        "n_docs": int(extra["n_docs"]),
        "total_dl": int(extra["total_dl"]),
        "id_type": extra["id_type"],
        "doc_buckets": int(extra["doc_buckets"]),
    }


def update_bm25_index_on_disk(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Absorb a document batch into a :func:`write_bm25_index` layout by
    rewriting ONLY the bucket partitions the batch's doc ids hash into —
    the partition-pruned maintenance the DataFrame path can't express
    (its retire anti-join scans all postings; its persist-and-swap
    rewrites them all). Work on disk ∝ affected buckets, never ∝ index.

    Semantics are exactly :func:`update_bm25_index` (re-ingest replaces,
    empty-text re-ingest deletes, integer df/scalar deltas ⇒ scores
    bit-identical to a rebuild) — tested against it. Steps:

    1. tokenize the batch (the only text read), pin its reduction;
    2. the batch ids' bucket set (≤ ``doc_buckets`` values) prunes the
       postings scan to EXACTLY the affected bucket directories (the
       read lists only those paths — plan/file-asserted in tests);
    3. retire + merge within those buckets only and write the new
       bucket contents (plus the vocab-sized ``term_stats`` rewrite —
       it has no doc locality to exploit) into a NEW GENERATION
       directory; untouched buckets are never read or written;
    4. publish ONE atomic manifest replace: affected buckets point at
       the new generation, unaffected buckets keep pointing at the
       (byte-untouched) generations that last wrote them, the scalars
       update, and fully-retired buckets drop out of the map.

    Concurrent readers are always safe: an index resolved before the
    publish is a complete pinned snapshot, one resolved after sees the
    whole update. A crash anywhere before the publish leaves the old
    manifest fully live and at worst an unpublished generation dir that
    the next publish deletes — there is no partial state to restore
    and no recovery step. Returns the updated index dict (lazy reads of
    the new layout)."""
    import os

    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        _write_layout,
    )

    root = path.rstrip("/")
    m = manifest.read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no BM25 index manifest at {root}")
    extra = m["extra"]
    n_buckets = int(extra["doc_buckets"])

    tf_b, _ = _tokenize(new_docs, id_col, text_col)
    tf_b = tf_b.localCheckpoint(eager=False)  # pinned by the collect below
    dl_b = tf_b.groupBy("doc").agg(F.sum("tf").cast("long").alias("dl"))
    batch = dl_b.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    n_batch, dl_batch = int(batch["n"] or 0), int(batch["dl_sum"] or 0)

    batch_ids = new_docs.select(F.col(id_col).alias("doc")).distinct()
    bucket_of = F.pmod(F.xxhash64(F.col("doc")), F.lit(n_buckets))
    buckets = sorted(
        r[0]
        for r in batch_ids.select(bucket_of.alias("b")).distinct().collect()
    )

    # physically partition-pruned scan: lists ONLY the affected bucket
    # directories of the generations that own them (the isin filter is
    # belt-and-braces on top of the path pruning)
    affected = _read_postings(spark, root, m, only_buckets=buckets).filter(
        F.col("_bucket").isin(buckets)
    )
    replaced = affected.join(
        F.broadcast(batch_ids), "doc", "semi"
    ).localCheckpoint(eager=False)  # pinned by the gone collect
    gone = replaced.select("doc", "dl").distinct().agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    n_gone, dl_gone = int(gone["n"] or 0), int(gone["dl_sum"] or 0)

    new_rows = (
        tf_b.join(dl_b, "doc")
        .select("term", "doc", "tf", "dl")
        .withColumn("_bucket", bucket_of)
    )
    out = (
        affected.join(F.broadcast(batch_ids), "doc", "anti")
        .select("term", "doc", "tf", "dl", "_bucket")
        .unionByName(new_rows)
    )

    # vocab-sized df merge — rewritten whole into the same new generation
    df_removed = replaced.groupBy("term").agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    df_added = tf_b.groupBy("term").agg(F.count(F.lit(1)).alias("delta"))
    deltas = df_added.unionByName(df_removed).groupBy("term").agg(
        F.sum("delta").alias("delta")
    )
    ts_gen = manifest.generation_dir(root, extra["term_stats"])
    term_stats = (
        spark.read.parquet(f"{ts_gen}/term_stats")
        .join(deltas, "term", "full")
        .select(
            "term",
            (F.coalesce(F.col("df"), F.lit(0))
             + F.coalesce(F.col("delta"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )

    gid, gdir = manifest.new_generation(root)
    _write_layout(out, f"{gdir}/postings", partition_by=["_bucket"],
                  sort_by=["term"])
    _write_layout(term_stats, f"{gdir}/term_stats", sort_by=["term"])
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{gdir}/postings")
        if d.startswith("_bucket=")
    }
    bucket_map = {
        b: g for b, g in extra["buckets"].items() if int(b) not in set(buckets)
    }
    bucket_map.update({str(b): gid for b in sorted(written)})
    manifest.publish(
        root,
        gid,
        extra={
            "n_docs": int(extra["n_docs"]) - n_gone + n_batch,
            "total_dl": int(extra["total_dl"]) - dl_gone + dl_batch,
            "id_type": extra["id_type"],
            "doc_buckets": n_buckets,
            "buckets": bucket_map,
            "term_stats": gid,
        },
        referenced=sorted({gid, *bucket_map.values()}),
    )
    return read_bm25_index(spark, root)


def refold_bm25_meta(spark, path: str) -> dict:
    """Consistency repair/verification for a manifest-committed BM25
    layout: recompute the scalars AND the full ``term_stats`` table from
    the live postings (one postings-METADATA pass — the text was never
    stored: distinct (doc, dl) count/sum for the scalars, a vocab-sized
    ``groupBy(term).count()`` for term_stats) and publish them as a new
    generation. The manifest protocol means no crash can leave the index
    inconsistent (the round-8 ADVICE recovery gap is gone by
    construction); this remains as the auditable "rebuild the derived
    statistics from first principles" tool — byte-identical output to
    the incrementally-maintained state is the invariant tests check.
    Returns the refolded meta scalars."""
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        _write_layout,
    )

    root = path.rstrip("/")
    m = manifest.read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no BM25 index manifest at {root}")
    extra = dict(m["extra"])
    postings = _read_postings(spark, root, m)
    row = (
        postings.select("doc", "dl")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t"))
        .collect()[0]
    )
    term_stats = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    gid, gdir = manifest.new_generation(root)
    _write_layout(term_stats, f"{gdir}/term_stats", sort_by=["term"])
    extra["n_docs"] = int(row["n"] or 0)
    extra["total_dl"] = int(row["t"] or 0)
    extra["term_stats"] = gid
    manifest.publish(
        root, gid, extra=extra,
        referenced=sorted({gid, *extra["buckets"].values()}),
    )
    return {"n_docs": extra["n_docs"], "total_dl": extra["total_dl"],
            "id_type": extra["id_type"], "doc_buckets": extra["doc_buckets"]}


def search_bm25(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 search against a prebuilt index:
    ``(query_id, <id_col>, score, rank)``.

    Robertson idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always
    positive) computed at query time from ``term_stats`` restricted to
    the query's terms (a few vocab rows); per-term contribution
    ``idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``; rank orders by
    the ROUNDED score (desc) then doc id — total-order deterministic,
    engine-portable. Cost is the postings of the QUERY's terms
    (row-group-pruned when the index was written term-sorted), not the
    corpus. ``k <= 0`` returns unranked scores for every matching pair.
    """
    n_docs = int(index["n_docs"])
    avgdl = (index["total_dl"] / n_docs) if n_docs else 1.0
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    )
    qidf = qterms.join(index["term_stats"], "term").select(
        "query_id",
        "term",
        F.log(
            1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    contrib = qidf.join(index["postings"], "term").select(
        "query_id",
        "doc",
        (
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
        ).alias("c"),
    )
    scores = (
        contrib.groupBy("query_id", "doc")
        .agg(F.round(F.sum("c"), 6).alias("score"))
        .select("query_id", F.col("doc").alias(id_col), "score")
    )
    if k <= 0:
        return scores
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return scores.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 results per query: ``(query_id, doc_id, score, rank)``.
    Routes through the index-backed path (build once → search), so the
    gate key qd45 exercises exactly the plan a persisted index serves."""
    index = build_bm25_index(corpus, id_col, text_col)
    return search_bm25(
        index, queries, k=k, id_col=id_col,
        query_id_col=query_id_col, query_text_col=query_text_col,
        k1=k1, b=b,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked result lists (the standard
    lexical+semantic hybrid-retrieval combiner):
    ``(query_id, <id_col>, rrf_score, rank)``.

    Each input DataFrame carries ``(query_id, <id_col>, rank)`` (extra
    columns ignored); a candidate's fused score is
    ``Σ_lists 1/(rrf_k + rank)`` over the lists that ranked it — rank
    positions only, so BM25 scores and cosine similarities need no
    calibration against each other, which is exactly why RRF is the
    robust default. Candidates missing from a list simply contribute
    nothing (partial coverage — e.g. embeddings for only part of the
    corpus — degrades gracefully to the lists that have them).

    Plan: union of the (already tiny, top-k-sized) ranked lists → one
    (query, candidate) aggregate → per-query rank window. Cost scales
    with Σ|lists|, never with the corpus. Determinism: contributions are
    exact reciprocals of small ints; the fused score rounds to 6dp
    BEFORE ranking with an id tiebreak (the module's contract)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = None
    for r in rankings:
        c = r.select(
            "query_id",
            F.col(id_col),
            (1.0 / (F.lit(float(rrf_k)) + F.col("rank"))).alias("contrib"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    scores = contribs.groupBy("query_id", id_col).agg(
        F.round(F.sum("contrib"), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col)
    )
    out = scores.withColumn("rank", F.row_number().over(w).cast("int"))
    return out.filter(F.col("rank") <= k) if k > 0 else out
