"""Tokenizer-training corpus prep: vocabulary construction, BPE merge
statistics, and full iterative BPE training (north-star extension — no
reference counterpart; nearest surface is the reference's aggregation
catalog ``sql/query_builder.py:193-291``, re-expressed here as
corpus-scale term statistics).

Every operator reduces the corpus to vocabulary-keyed tables in
map-side-combined aggregations: the corpus text never shuffles, only
(term, count) pairs do. That is the shape a 100 TB tokenizer-training
prep job needs — the first aggregate cuts petabytes of text to a
vocabulary (millions of rows), and everything downstream — including
every :func:`train_bpe` merge iteration — is vocabulary-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.llm.text import tokens
from sql_data_warehouse_analytics_project_spark.session import local_rows


def build_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: ``(term, n_occurrences, n_docs[, rank])``.

    Two-stage aggregation: explode → (doc, term) partial counts (map-side
    combined, so a hot term never funnels raw occurrences through one
    reducer) → per-term totals, where ``n_docs`` falls out as the row
    count of the first stage. ``min_count`` prunes the long tail BEFORE
    any ordering. With ``top_k`` the cut is a distributed top-k sort
    (TakeOrderedAndProject — no global sort of the full vocabulary) and a
    ``rank`` column is added over the k survivors; ties break on term so
    output is total-order deterministic.
    """
    ex = df.select(F.col(id_col).alias("_doc"), F.explode(tokens(text_col)).alias("term"))
    per_doc = ex.groupBy("_doc", "term").agg(F.count(F.lit(1)).alias("c"))
    counts = (
        per_doc.groupBy("term")
        .agg(F.sum("c").alias("n_occurrences"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    if top_k is None:
        return counts
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(top_k)
    # deliberate global window over an ALREADY top-k-cut frame (≤ top_k
    # rows by construction; plan-asserted parent/child order in tests)
    from sql_data_warehouse_analytics_project_spark.operators.windows import window_spec

    w = window_spec(
        None,
        [F.desc("n_occurrences"), F.asc("term")],
        allow_unpartitioned=True,
    )
    return top.select(
        "term", "n_occurrences", "n_docs", F.row_number().over(w).cast("int").alias("rank")
    )


def bpe_pair_counts(df, text_col: str = "text") -> DataFrame:
    """Adjacent character-pair frequencies over the corpus — the exact
    statistic BPE's first merge maximizes (count of each symbol bigram,
    weighted by word frequency). Returns ``(pair, n_occurrences)``.

    The corpus first collapses to ``(word, count)`` — so pair generation
    runs over the *vocabulary*, not every occurrence — then each word
    explodes into its ``len-1`` character bigrams carrying the word's
    weight. Two vocabulary-keyed shuffles; the raw text is read once.
    Tokens are ``[a-z0-9]+`` so the pair domain is tiny (≤36²) and the
    final aggregate is trivially small.
    """
    wc = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .filter(F.length("w") >= 2)
    )
    pairs = F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    return (
        wc.select(F.explode(pairs).alias("pair"), "wn")
        .groupBy("pair")
        .agg(F.sum("wn").alias("n_occurrences"))
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage of a ``localCheckpoint``-backed
    DataFrame NOW. ``Dataset.unpersist`` only evicts CacheManager
    entries, so a checkpointed RDD's blocks otherwise stay pinned until
    driver GC + ContextCleaner get around to the wrapper — across
    ``train_bpe``'s ``num_merges`` iterations that re-creates exactly
    the block accumulation bench.py's purge fix documents. The analyzed
    plan of a checkpointed frame is a single ``LogicalRDD`` whose
    ``rdd()`` IS the pinned RDD; unpersisting it directly is the
    deterministic release. Best-effort by contract (a failure merely
    defers cleanup to the ContextCleaner)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — cleanup must never break training
        pass


def _append_piece(acc, x):
    """Fold step for the merge-application aggregate: flush the held-back
    previous symbol (if any) and hold ``x``."""
    return F.struct(
        F.when(acc.prev.isNull(), acc.out)
        .otherwise(F.concat(acc.out, F.array(acc.prev)))
        .alias("out"),
        x.alias("prev"),
    )


def _apply_merge(pieces_col, s1: str, s2: str):
    """Greedy left-to-right replacement of adjacent ``(s1, s2)`` with the
    merged symbol inside a symbol array — pure JVM expression
    (``aggregate`` with a one-symbol-lookbehind state), no Python in the
    hot path. Greedy means "aaa" under merge (a,a) → ["aa", "a"], the
    Sennrich reference semantics."""
    merged = s1 + s2
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    return F.aggregate(
        pieces_col,
        init,
        lambda acc, x: F.when(
            (acc.prev == s1) & (x == s2),
            F.struct(
                F.concat(acc.out, F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(_append_piece(acc, x)),
        lambda acc: F.when(acc.prev.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.prev))
        ),
    )


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    *,
    num_merges: int = 16,
    min_freq: int = 2,
    driver_max_types: int = 1_000_000,
):
    """Full BPE tokenizer TRAINING (Sennrich et al. 2016 — the iterative
    half that :func:`bpe_pair_counts` only takes the first step of):
    repeatedly find the most frequent adjacent symbol pair over the
    corpus and merge it, ``num_merges`` times or until the best pair
    drops below ``min_freq``. Returns ``{"merges", "word_pieces",
    "n_merges"}`` — the ordered merge table ``(rank, s1, s2, freq)``
    (rank 1 = first merge) and the final per-word segmentation
    ``(w, wn, pieces)`` that encodes any in-vocabulary text.

    Determinism: the argmax tie-breaks (freq desc, s1 asc, s2 asc), so
    the merge sequence is a pure function of the corpus — the qd62
    oracle replays it with an independent reference implementation.

    Plan (100 TB story): the corpus collapses ONCE to ``(word, count)``
    — classic BPE trains on word types, so every later step is
    vocabulary-sized, independent of corpus size. Each iteration is one
    map-side-combined pair count over the vocabulary, a 1-row
    TakeOrdered argmax (the only driver transfer: one pair per merge),
    and a JVM-side greedy re-segmentation (:func:`_apply_merge` — an
    ``aggregate`` expression, not a Python UDF). The working set is
    localCheckpointed per iteration so the plan stays shallow instead of
    nesting ``num_merges`` aggregates."""
    chars = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    wc = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select("w", "wn", chars.alias("pieces"))
        # lazy: the driver_max_types count() below is a full scan, so it
        # doubles as the materializing action (one job instead of two)
        .localCheckpoint(eager=False)
    )
    spark = df.sparkSession
    # Word-type vocabularies at or under ``driver_max_types`` rows (known
    # for free — the collapse is materialized anyway) train with the
    # classic in-memory merge loop on the driver (the
    # ``clustering.DRIVER_MAX_EDGES`` pattern): after the one
    # corpus-sized collapse, BPE's working set is the TYPE vocabulary —
    # bounded by the language, not the corpus (this is why every
    # production BPE trainer is single-machine past the word count) — and
    # the distributed loop's per-merge cost is fixed job/shuffle overhead
    # ~10× the actual pair arithmetic. Tie-breaks ((freq desc, s1, s2) —
    # tokens are ASCII, so Python and UTF8String orderings agree) and the
    # greedy left-to-right merge are bit-identical to the distributed
    # path, which remains the ≥millions-of-types scale story below.
    if wc.count() <= driver_max_types:
        rows = wc.select("w", "wn").collect()
        _release_checkpoint(wc)
        words = {r["w"]: int(r["wn"]) for r in rows}
        segs: dict[str, list[str]] = {w: list(w) for w in words}
        merges = []
        for rank in range(1, num_merges + 1):
            pc: dict[tuple[str, str], int] = {}
            for w, cnt in words.items():
                s = segs[w]
                for a, b in zip(s, s[1:]):
                    pc[(a, b)] = pc.get((a, b), 0) + cnt
            if not pc:
                break
            (s1, s2), freq = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if freq < min_freq:
                break
            merges.append((rank, s1, s2, int(freq)))
            m = s1 + s2
            for w, s in segs.items():
                out: list[str] = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == s1 and s[i + 1] == s2:
                        out.append(m)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                segs[w] = out
        merges_df = local_rows(
            spark, merges, "rank int, s1 string, s2 string, freq bigint"
        )
        word_pieces = local_rows(
            spark, [(w, words[w], segs[w]) for w in words],
            "w string, wn bigint, pieces array<string>",
        )
        return {
            "merges": merges_df,
            "word_pieces": word_pieces,
            "n_merges": len(merges),
        }
    merges: list[tuple[int, str, str, int]] = []
    prev = None  # the materialized frame the current (lazy) wc derives from
    for rank in range(1, num_merges + 1):
        pairs = (
            wc.filter(F.size("pieces") >= 2)
            .select(
                "wn",
                F.explode(
                    F.arrays_zip(
                        F.slice("pieces", 1, F.size("pieces") - 1).alias("s1"),
                        F.slice("pieces", 2, F.size("pieces") - 1).alias("s2"),
                    )
                ).alias("_p"),
            )
            .groupBy(F.col("_p.s1").alias("s1"), F.col("_p.s2").alias("s2"))
            .agg(F.sum("wn").alias("freq"))
        )
        best = (
            pairs.orderBy(F.desc("freq"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()
        )
        # the TakeOrdered argmax scans every pair, so it is also the job
        # that materializes this round's lazy re-segmentation checkpoint —
        # only now is the PREVIOUS round's pinned frame safe to free
        if prev is not None:
            _release_checkpoint(prev)
            prev = None
        if not best or best[0]["freq"] < min_freq:
            break
        s1, s2, freq = best[0]["s1"], best[0]["s2"], int(best[0]["freq"])
        merges.append((rank, s1, s2, freq))
        nxt = wc.select(
            "w", "wn", _apply_merge(F.col("pieces"), s1, s2).alias("pieces")
        ).localCheckpoint(eager=False)
        prev = wc
        wc = nxt
    if prev is not None:
        # loop exhausted with the last re-segmentation still lazy: pin it
        # now so its parent's blocks can be freed (same net memory as the
        # eager form; the count is the one materialization the final
        # round deferred)
        wc.count()
        _release_checkpoint(prev)
    spark = df.sparkSession
    merges_df = local_rows(
        spark, merges, "rank int, s1 string, s2 string, freq bigint"
    )
    return {"merges": merges_df, "word_pieces": wc, "n_merges": len(merges)}


def write_tokenizer(model: dict, path: str) -> None:
    """Persist a trained tokenizer as a MANIFEST-COMMITTED on-disk
    artifact (``sources/manifest`` — the atomic-publish discipline of
    ``write_bm25_index``/``write_ivfpq_index``, round-11 verdict #4):
    until now ``train_bpe``/``train_unigram`` returned in-memory models
    that could not be shared across sessions/jobs without caller-side
    serialization. Accepts EITHER trainer's output dict by shape:

    - BPE (``train_bpe``): ``merges`` (rank, s1, s2, freq) and
      ``word_pieces`` (w, wn, pieces) land as parquet datasets under the
      new generation; ``n_merges`` rides the manifest.
    - Unigram (``train_unigram``): ``pieces`` (piece, count, logp) lands
      as parquet; ``n_single``/``n_iters`` ride the manifest.

    Publish is one atomic manifest replace: re-training republishes a
    NEW generation, readers that resolved earlier keep their pinned
    snapshot (a generation stays on disk until the publish after the
    one that superseded it),
    and a crash before publish leaves the old artifact fully live.
    Round-trip is bit-exact — encode through the read-back artifact
    equals encode through the in-memory model (tested)."""
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        _write_layout,
    )

    root = path.rstrip("/")
    if "word_pieces" in model:
        gid, gdir = manifest.new_generation(root)
        _write_layout(model["merges"], f"{gdir}/merges", sort_by=["rank"])
        _write_layout(
            model["word_pieces"], f"{gdir}/word_pieces", sort_by=["w"]
        )
        extra = {"kind": "bpe", "n_merges": int(model["n_merges"])}
    elif "pieces" in model:
        gid, gdir = manifest.new_generation(root)
        _write_layout(model["pieces"], f"{gdir}/pieces", sort_by=["piece"])
        extra = {
            "kind": "unigram",
            "n_single": int(model["n_single"]),
            "n_iters": int(model["n_iters"]),
        }
    else:
        raise ValueError(
            "not a tokenizer model: expected train_bpe output "
            "(word_pieces) or train_unigram output (pieces)"
        )
    manifest.publish(root, gid, extra=extra)


def read_tokenizer(spark, path: str) -> dict:
    """Load a :func:`write_tokenizer` artifact back into the trainer's
    output contract (plus ``"kind"``), resolving the manifest ONCE — a
    pinned consistent snapshot whose DataFrames stay lazy scans. The
    handle feeds :func:`bpe_encode` / ``unigram.unigram_encode``
    directly; both also accept the PATH itself and resolve here."""
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    root = path.rstrip("/")
    m = manifest.read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no tokenizer manifest at {root}")
    gdir = manifest.generation_dir(root, m["current"])
    extra = m["extra"]
    if extra.get("kind") == "bpe":
        return {
            "kind": "bpe",
            "merges": spark.read.parquet(f"{gdir}/merges"),
            "word_pieces": spark.read.parquet(f"{gdir}/word_pieces"),
            "n_merges": int(extra["n_merges"]),
        }
    if extra.get("kind") == "unigram":
        return {
            "kind": "unigram",
            "pieces": spark.read.parquet(f"{gdir}/pieces"),
            "n_single": int(extra["n_single"]),
            "n_iters": int(extra["n_iters"]),
        }
    raise ValueError(f"not a tokenizer manifest at {root}: {extra!r}")


def _resolve_word_pieces(df: DataFrame, word_pieces) -> DataFrame:
    """``bpe_encode`` model arg: a ``word_pieces`` DataFrame, a
    ``train_bpe`` output dict, or a :func:`write_tokenizer` path."""
    if isinstance(word_pieces, str):
        model = read_tokenizer(df.sparkSession, word_pieces)
        if model["kind"] != "bpe":
            raise ValueError(
                f"tokenizer at {word_pieces} is {model['kind']!r}, not bpe"
            )
        return model["word_pieces"]
    if isinstance(word_pieces, dict):
        return word_pieces["word_pieces"]
    return word_pieces


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    word_pieces,
) -> DataFrame:
    """Encode documents with a trained segmentation: tokenize, join the
    ``word_pieces`` table (vocabulary-sized — broadcastable), flatten to
    ``(id, n_tokens, n_pieces, pieces)``. Out-of-vocabulary words fall
    back to character symbols (the untrained segmentation) — exact for
    any corpus the model was trained on; retrain on the union corpus to
    extend coverage. Documents that tokenize to NOTHING are preserved
    with ``n_tokens = 0`` and empty pieces (the ``duplicate_span_stats``
    empty-doc convention), via a left join of the encoded rows back to
    the input ids — not ``posexplode_outer``, whose null token row would
    miscount ``n_tokens`` as 1. ``word_pieces`` may be the DataFrame,
    the full ``train_bpe`` dict, or a :func:`write_tokenizer` path."""
    word_pieces = _resolve_word_pieces(df, word_pieces)
    chars = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    toks = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("_i", "w"))
    encoded = (
        toks.join(F.broadcast(word_pieces.select("w", "pieces")), "w", "left")
        .select(
            F.col(id_col),
            "_i",
            F.coalesce("pieces", chars).alias("_pc"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.flatten(F.array_sort(F.collect_list(F.struct("_i", "_pc"))).getField("_pc")).alias("pieces"),
        )
    )
    return df.select(F.col(id_col)).join(encoded, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.size("pieces"), F.lit(0)).cast("long").alias("n_pieces"),
        F.coalesce("pieces", F.array().cast("array<string>")).alias("pieces"),
    )
