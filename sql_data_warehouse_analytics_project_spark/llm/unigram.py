"""Unigram-LM (SentencePiece-style) tokenizer training — EM over word
types (north-star extension, round-10 verdict #4; companion to the
merge-based :mod:`vocab` BPE half — together they cover both tokenizer
families modern LLM pipelines actually train. Public method: Kudo 2018,
"Subword Regularization", the model SentencePiece ships as default).

The 100 TB shape mirrors :func:`vocab.train_bpe`: the corpus collapses
ONCE to ``(word, count)`` types, candidate-piece seeding is one
vocabulary-keyed aggregation of in-row substring explosions (JVM
expressions, the text never shuffles twice), and each EM iteration is
ONE distributed pass over word types — an Arrow-batched Viterbi kernel
emitting per-partition INTEGER piece-count partials (the
``_kmeans_refine`` mergeable-partials shape) — followed by vocab-sized
driver work (M-step re-normalization, likelihood-loss pruning). Nothing
after the first corpus pass scales past the vocabulary.

Determinism contract (the qd65 gate replays training end-to-end with an
independent pure-Python reference, the qd62 pattern): seeding keeps all
single characters plus the top multi-char substrings by
(count desc, piece asc); the per-word Viterbi breaks score ties toward
the LONGER last piece; E-step counts are integers (order-free partial
sums); pruning ranks by (loss desc, count desc, piece asc). Every float
enters through ``math.log`` of integer ratios computed driver-side, so
the merge of distributed partials can never drift the model.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.llm.text import tokens
from sql_data_warehouse_analytics_project_spark.llm.vocab import (
    _release_checkpoint,
)
from sql_data_warehouse_analytics_project_spark.session import local_rows

#: score for a character absent from the model during encoding (OOV
#: escape hatch — unreachable during training, where seeding covers
#: every corpus character)
_OOV_LOGP = -1e9


def _viterbi(word: str, logp: dict, max_len: int):
    """Best segmentation of ``word`` under piece log-probs: classic DP,
    score ties break toward the LONGER last piece. Characters missing
    from the model score ``_OOV_LOGP`` (encode-time escape; training
    never hits it). Returns (pieces, score)."""
    n = len(word)
    best = [0.0] + [None] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        b_score, b_len = None, 0
        for ln in range(1, min(i, max_len) + 1):
            prev = best[i - ln]
            if prev is None:
                continue
            piece = word[i - ln:i]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = _OOV_LOGP
            cand = prev + lp
            if b_score is None or cand > b_score or (cand == b_score and ln > b_len):
                b_score, b_len = cand, ln
        best[i], back[i] = b_score, b_len
    out, i = [], n
    while i > 0:
        out.append(word[i - back[i]:i])
        i -= back[i]
    return out[::-1], best[n]


def _model_logp(counts: dict) -> dict:
    """Piece log-probs from integer counts, single characters floored at
    count 1 (they must stay reachable so every string segments). Pure
    integer-ratio ``math.log`` — identical on any engine in the same
    interpreter, and the reference replays it."""
    floored = {
        p: (max(c, 1) if len(p) == 1 else c) for p, c in counts.items()
    }
    floored = {p: c for p, c in floored.items() if c > 0}
    total = sum(floored.values())
    return {p: math.log(c / total) for p, c in floored.items()}


def _prune(counts: dict, logp: dict, budget: int, max_len: int) -> dict:
    """Likelihood-loss pruning (the SentencePiece move): a multi-char
    piece's loss is what the corpus likelihood gives up if its
    occurrences re-segment WITHOUT it —
    ``count × (logp(piece) − alt_logp)`` where ``alt`` is the piece's
    own best segmentation using the remaining pieces. Keep the top
    ``budget`` multi-char pieces by (loss desc, count desc, piece asc);
    single characters are never pruned."""
    multi = sorted(p for p in counts if len(p) > 1)
    if len(multi) <= budget:
        return counts
    losses = []
    for p in multi:
        others = {q: lp for q, lp in logp.items() if q != p}
        _, alt = _viterbi(p, others, max_len)
        losses.append((counts[p] * (logp[p] - alt), counts[p], p))
    losses.sort(key=lambda t: (-t[0], -t[1], t[2]))
    keep = {t[2] for t in losses[:budget]}
    return {p: c for p, c in counts.items() if len(p) == 1 or p in keep}


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )


def _estep_counts(wc: DataFrame, logp: dict, max_len: int) -> dict:
    """ONE distributed E-step pass: Viterbi-segment every word type under
    the broadcast model and emit per-partition integer piece-count
    partials; the driver folds at most ``partitions × vocab`` tiny rows,
    never the corpus. Integer counts ⇒ the fold is order-free."""
    import pandas as pd

    spark = wc.sparkSession
    bc = spark.sparkContext.broadcast((logp, max_len))

    def partial(batches):
        lp, ml = bc.value
        acc: dict[str, int] = {}
        for pdf in batches:
            for w, wn in zip(pdf["w"], pdf["wn"]):
                pieces, _ = _viterbi(w, lp, ml)
                for p in pieces:
                    acc[p] = acc.get(p, 0) + int(wn)
        if acc:
            yield pd.DataFrame(
                {"piece": list(acc), "cnt": [acc[p] for p in acc]}
            )

    rows = (
        wc.mapInPandas(partial, schema="piece string, cnt long")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    bc.unpersist()
    return {r["piece"]: int(r["cnt"]) for r in rows}


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    em_iters: int = 3,
    seed_multiplier: int = 4,
) -> dict:
    """Train a unigram-LM tokenizer (Kudo 2018 / SentencePiece): seed a
    substring candidate vocabulary, then alternate E (Viterbi-segment
    every word type, count pieces) and M (re-normalize, floor single
    chars, prune multi-char pieces by likelihood loss toward
    ``vocab_size``). Returns ``{"pieces", "n_single", "n_iters"}`` where
    ``pieces`` is a DataFrame ``(piece, count, logp)`` of the final
    model — counts are the last E-step's integers, ``logp`` the final
    re-normalized log-probs (the encode-time scores).

    ``vocab_size`` counts multi-char pieces ON TOP of the single
    characters (which are never pruned — they guarantee every string
    segments); seeding keeps ``seed_multiplier × vocab_size`` multi-char
    candidates so EM has room to reshuffle before the final prune.
    Training is a pure function of the corpus (see module docstring) —
    the qd65 gate replays it with an independent reference."""
    if vocab_size < 1 or max_piece_len < 2 or em_iters < 1:
        raise ValueError(
            "need vocab_size ≥ 1, max_piece_len ≥ 2, em_iters ≥ 1"
        )
    spark = df.sparkSession
    # lazy: the single-char candidate collect below is a full scan over
    # the word types, so it doubles as the materializing action
    wc = _word_types(df, text_col).localCheckpoint(eager=False)

    # candidate seeding: every substring of length 1..max_piece_len of
    # every word type, weighted by word count — in-row generation (one
    # expr-based transform per length, concatenated; plain string
    # arrays, the codegen-friendly shape), one vocab-keyed shuffle
    sub_cols = [
        F.when(
            F.length("w") >= ln,
            F.expr(
                f"transform(sequence(1, length(w) - {ln} + 1),"
                f" i -> substring(w, i, {ln}))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        for ln in range(1, max_piece_len + 1)
    ]
    cand = (
        wc.select("wn", F.explode(F.concat(*sub_cols)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wn").cast("long").alias("cnt"))
    )
    singles = {
        r["piece"]: int(r["cnt"])
        for r in cand.filter(F.length("piece") == 1).collect()
    }
    n_seed = int(seed_multiplier) * int(vocab_size)
    multi = (
        cand.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(n_seed)
        .collect()
    )
    counts = dict(singles)
    counts.update({r["piece"]: int(r["cnt"]) for r in multi})

    for _ in range(em_iters):
        logp = _model_logp(counts)
        new_counts = _estep_counts(wc, logp, max_piece_len)
        # single chars stay in the model even when the segmentation
        # stopped using them (floored in _model_logp); multi-char pieces
        # live on E-step usage alone
        counts = {p: c for p, c in new_counts.items() if c > 0}
        for ch in singles:
            counts.setdefault(ch, 0)
        counts = _prune(
            counts, _model_logp(counts), int(vocab_size), max_piece_len
        )

    # the model is driver-side from here on — free the word-type
    # checkpoint's pinned blocks now (Dataset.unpersist is a no-op for
    # checkpoint storage; see vocab._release_checkpoint)
    _release_checkpoint(wc)

    final_logp = _model_logp(counts)
    rows = [
        (p, int(counts[p]), float(final_logp[p]))
        for p in sorted(final_logp)
    ]
    pieces = local_rows(spark, rows, "piece string, count long, logp double")
    return {
        "pieces": pieces,
        "n_single": len(singles),
        "n_iters": int(em_iters),
    }


def unigram_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pieces,
) -> DataFrame:
    """Encode documents with a trained unigram model: tokenize, Viterbi-
    segment each token under the broadcast ``(piece, logp)`` table, and
    report ``(id, n_tokens, n_pieces, pieces, logp)`` — ``logp`` the
    summed segmentation score (the sequence-probability surface
    subword-regularization sampling would draw from). Out-of-vocabulary
    characters fall back to themselves at a floor score, so every
    document round-trips (``concat(pieces) == concat(tokens)``).
    Empty-tokenizing documents are preserved with zero counts (the
    :func:`vocab.bpe_encode` convention). One Arrow-batched kernel over
    the exploded tokens; the model is a broadcast dict (vocab-sized).
    ``pieces`` may be the DataFrame, the full ``train_unigram`` dict, or
    a ``vocab.write_tokenizer`` path."""
    import pandas as pd

    from sql_data_warehouse_analytics_project_spark.llm.vocab import (
        read_tokenizer,
    )

    spark = df.sparkSession
    if isinstance(pieces, str):
        model_doc = read_tokenizer(spark, pieces)
        if model_doc["kind"] != "unigram":
            raise ValueError(
                f"tokenizer at {pieces} is {model_doc['kind']!r}, not unigram"
            )
        pieces = model_doc["pieces"]
    elif isinstance(pieces, dict):
        pieces = pieces["pieces"]
    model = {
        r["piece"]: float(r["logp"]) for r in pieces.select("piece", "logp").collect()
    }
    max_len = max((len(p) for p in model), default=1)
    bc = spark.sparkContext.broadcast((model, max_len))

    def seg(batches):
        lp, ml = bc.value
        for pdf in batches:
            out_pieces, out_scores = [], []
            for w in pdf["w"]:
                ps, sc = _viterbi(w, lp, ml)
                out_pieces.append(ps)
                out_scores.append(float(sc))
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_i": pdf["_i"],
                    "_pc": out_pieces,
                    "_lp": out_scores,
                }
            )

    id_sql = dict(df.dtypes)[id_col]
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("_i", "w"),
    )
    enc = (
        toks.mapInPandas(
            seg,
            schema=f"_id {id_sql}, _i int, _pc array<string>, _lp double",
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.flatten(
                F.array_sort(F.collect_list(F.struct("_i", "_pc"))).getField("_pc")
            ).alias("pieces"),
            F.round(F.sum("_lp"), 6).alias("logp"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(enc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.size("pieces"), F.lit(0)).cast("long").alias("n_pieces"),
            F.coalesce("pieces", F.array().cast("array<string>")).alias("pieces"),
            F.coalesce("logp", F.lit(0.0)).alias("logp"),
        )
    )
