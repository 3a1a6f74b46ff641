"""Text-analysis operators for training-data pipelines: tokenization,
language-ID (n-gram/stopword heuristic), quality scoring, token counting,
document fingerprinting.

Beyond the reference's own surface (BASELINE.json north-star extensions);
all built-in column expressions — these run inside whole-stage codegen at
100 TB with zero Python in the hot path. Every operator has an exact
ANSI-SQL twin (see queries_llm.py) so the DuckDB oracle can check it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_data_warehouse_analytics_project_spark.session import local_rows

#: Tokenizer contract shared with the oracles: lowercase, split on runs of
#: non-alphanumerics, drop empties. Simple whitespace+punct tokenization —
#: the BPE-ish path is `token_count_bpe` below.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: Tiny per-language stopword lists for the lang-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "de", "et", "un", "est", "pour", "que", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "人", "这"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("on", "with", "as", "at", "by", "this")


def md5_60bit(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — THE engine-portable
    hash every oracle-checked twin shares (DuckDB spelling:
    ``CAST(CAST(concat('0x', substr(md5(x), 1, 15)) AS UBIGINT) AS
    BIGINT)``). 15 hex chars so the value fits signed int64 in both
    engines; keep this single definition and the SQL twins in lockstep —
    a drift in either breaks every portable oracle at once."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens(text: str | Column) -> Column:
    """Lowercase whitespace+punctuation tokenization → array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def token_count_bpe(text: str | Column) -> Column:
    """BPE-ish token estimate without a vocab: word-piece proxy =
    ceil(len(word)/4) per word (subword units average ~4 chars), plus one
    per punctuation run. Deterministic and SQL-expressible."""
    c = F.col(text) if isinstance(text, str) else text
    word_pieces = F.aggregate(
        tokens(c),
        F.lit(0),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int"),
    )
    punct_runs = F.size(
        F.filter(F.split(F.lower(c), "[a-z0-9\\s]+"), lambda t: t != "")
    )
    return word_pieces + punct_runs


def _member_of(words: tuple[str, ...]):
    # NB: a plain 1-arg lambda per call — PySpark derives lambda-variable
    # count from the function arity, so closure-by-default-arg (2 params)
    # would silently bind the array INDEX to the second parameter.
    return lambda t: t.isin(list(words))


def lang_scores(
    text: str | Column, *, toks: Column | None = None
) -> dict[str, Column]:
    """Occurrence count of each language's marker words (duplicates count).

    Latin-script languages score on tokens; zh scores by counting marker
    CHARACTERS in the raw text — the ASCII tokenizer treats CJK codepoints
    as separators, so token-based zh markers could never match (a defect
    surfaced by the unicode edge-case tests). ``toks`` accepts a
    pre-tokenized array column to skip re-tokenizing."""
    c = F.col(text) if isinstance(text, str) else text
    if toks is None:
        toks = tokens(c)
    scores: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        if lang == "zh":
            scores[lang] = sum(
                [
                    F.length(c) - F.length(F.regexp_replace(c, w, ""))
                    for w in words
                ],
                F.lit(0),
            )
        else:
            scores[lang] = F.size(F.filter(toks, _member_of(words)))
    return scores


def detect_language(text: str | Column, *, toks: Column | None = None) -> Column:
    """Argmax language with deterministic tie-break (language key order);
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(text, toks=toks)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first-wins tie-break in declared order
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def punct_ratio(text: str | Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    punct = F.length(F.regexp_replace(F.lower(c), "[a-z0-9\\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(text: str | Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, _member_of(EN_STOPWORDS)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals (length / punctuation / stopword ratio /
    mean token length) + a composite 0-1 score. The score is a transparent
    heuristic: long-enough docs with natural word lengths and some
    stopwords rank high; symbol soup ranks low."""
    # Tokens, then every raw signal, each materialized ONCE in its own
    # projection layer — the score formula references each signal
    # multiple times, and inline expressions are re-evaluated per
    # reference (the tokenizer regex being the expensive one).
    d = df.select("*", tokens(text_col).alias("__qf_toks"))
    toks = F.col("__qf_toks")
    n_toks = F.size(toks)
    mean_tok_len = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_toks
    )
    sw_hits = F.size(F.filter(toks, _member_of(EN_STOPWORDS)))
    stopword = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        sw_hits.cast("double") / n_toks
    )
    pre = d.select(
        "*",
        F.length(F.col(text_col)).alias("q_n_chars"),
        n_toks.alias("q_n_tokens"),
        mean_tok_len.alias("__mtl"),
        punct_ratio(text_col).alias("__pr"),
        stopword.alias("__sw"),
    )
    length_ok = (F.col("q_n_chars") >= 50) & (F.col("q_n_chars") <= 100_000)
    tok_len_ok = (F.col("__mtl") >= 2.0) & (F.col("__mtl") <= 12.0)
    score = (
        length_ok.cast("double") * 0.4
        + tok_len_ok.cast("double") * 0.2
        + (1.0 - F.least(F.col("__pr") * F.lit(4.0), F.lit(1.0))) * 0.2
        + F.least(F.col("__sw") * F.lit(4.0), F.lit(1.0)) * 0.2
    )
    return pre.select(
        *[c for c in df.columns],
        "q_n_chars",
        "q_n_tokens",
        F.round(F.col("__mtl"), 4).alias("q_mean_token_len"),
        F.round(F.col("__pr"), 4).alias("q_punct_ratio"),
        F.round(F.col("__sw"), 4).alias("q_stopword_ratio"),
        F.round(score, 4).alias("q_score"),
    )


def fingerprint(text: str | Column) -> Column:
    """Content fingerprint: whitespace-normalized lowercase text → SHA-256.
    Equal fingerprints ⇔ equal normalized content (exact-dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))
    return F.sha2(normalized, 256)


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn's formulation: ``idf = ln((N+1)/(df+1)) + 1``) — keyword
    extraction / topic signal for corpus curation.

    Plan: explode tokens → per-(doc, term) counts (one shuffle, map-side
    combined) → document frequency per term (second aggregation over the
    already-reduced (doc, term) pairs, never the raw tokens) → join tf⋈idf
    on term (plain shuffle join — the vocabulary can be huge at corpus
    scale, so no broadcast assumption; AQE promotes small vocabs) → top-k
    window per doc. Ties break lexicographically so output is total-order
    deterministic. Output: (id, term, tfidf, rank).
    """
    from pyspark.sql.window import Window

    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = tf.select(F.countDistinct("doc").alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            (F.log((F.col("n_docs") + 1.0) / (F.col("df_") + 1.0)) + 1.0).alias("idf"),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(idf, "term")
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col),
            "term",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def rolling_fingerprint(
    text: str | Column, *, base: int = 131, mod: int = 1_000_000_007
) -> Column:
    """Polynomial rolling hash over the token stream (Rabin–Karp style):
    ``h = fold(tokens, (h, x) -> (h·base + x) mod M)`` with per-token
    ``x = md5-60bit(token) mod M``. Order-sensitive (unlike the sorted
    sha256 :func:`fingerprint`), incremental, and SQL-portable so the
    DuckDB oracle replays it exactly. Empty token stream → 0.

    All arithmetic stays in int64: h < M ≈ 2³⁰, so h·base + x < 2³⁸."""
    toks = tokens(text)
    tok_h = F.transform(toks, lambda t: md5_60bit(t) % mod)
    return F.aggregate(
        tok_h, F.lit(0).cast("long"), lambda h, x: (h * base + x) % mod
    )


#: PII patterns shared verbatim with the SQL oracles. Kept inside the
#: RE2 ∩ Java-regex common subset (no lookaround, no backreferences, no
#: alternation whose leftmost-first vs leftmost-longest semantics differ)
#: so both engines match identical spans.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}"),
)


def redact_pii(text: str | Column) -> Column:
    """Replace every PII match with a typed placeholder (``<EMAIL>``,
    ``<IPV4>``) — the scrub stage of a training-data pipeline. Pure
    ``regexp_replace`` chain: codegen'd, no UDF, order fixed (email
    before ipv4 so an address inside an email-like token is consumed by
    the earlier pattern, same as the oracle)."""
    c = F.col(text) if isinstance(text, str) else text
    out = c
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_counts(text: str | Column) -> dict[str, Column]:
    """Occurrences of each PII pattern (audit/reporting companion to
    :func:`redact_pii`)."""
    c = F.col(text) if isinstance(text, str) else text
    return {name: F.regexp_count(c, F.lit(pat)) for name, pat in PII_PATTERNS}


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-TOKENIZED array column —
    lets a pipeline that materialized one token pass (see
    ``curate.curate_corpus``) derive shingles without re-running the
    tokenizer regex, the CPU hot spot of every dedup stage. Exactly the
    distinct set of :func:`word_ngrams` — one gram constructor, so the
    dedup shingle universe and the repetition-count universe can never
    diverge."""
    return F.array_distinct(word_ngrams(toks, n))


def shingles(text: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles → array<string> (distinct). The unit of
    near-duplicate detection for Jaccard/MinHash."""
    return shingles_of(tokens(text), n)


def sorted_gram_hashes(grams: Column) -> Column:
    """int64-hash each gram and sort — the materialization companion of
    :func:`ngram_run_stats` (see its usage contract)."""
    return F.array_sort(F.transform(grams, lambda g: F.xxhash64(g)))


def ngram_run_stats(grams: Column) -> Column:
    """``struct(top_c, rep_c)`` — count of the most frequent element and
    total count of elements occurring more than once — as a PURE per-row
    expression: hash each gram to int64, sort, and read group sizes off
    the run-start positions (a group's count == its run length once
    sorted).

    This replaces the explode → groupBy(doc, gram) → groupBy(doc) shape:
    same integer answer (modulo a ~n²/2⁶⁴ xxhash64 collision, the same
    contract every hash-dedup path in this engine already accepts), but
    zero shuffle — repetition scoring becomes map-side-only, which at
    100 TB removes the largest exchange in the quality-filter stage. The
    per-row pipeline is all primitive-long array ops (hash → sort →
    boundary scan), the cheapest higher-order-function path Spark has;
    a struct-state fold over sorted strings measured ~3× slower.

    CRITICAL usage contract: ``grams`` must be an already-materialized
    column (project ``sorted_gram_hashes(...)`` in a PRECEDING select and
    pass ``F.col(...)`` here). Expression trees are inlined per
    reference, and this function references its input O(n) times inside
    lambda bodies — handing it a raw hash+sort expression makes every
    element access re-sort the array: O(n² log n) per row (measured 70×
    slower at sf0.01).
    """
    s = grams
    n = F.size(s)
    # 0-based indices where a new run starts: i == 0 or s[i] != s[i-1]
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))),
        lambda i: (i == 0) | (F.element_at(s, i + 1) != F.element_at(s, i)),
    )
    # run ends = next run's start (append n for the final run)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n),
    )
    lens = F.zip_with(starts, ends, lambda a, b: (b - a).cast("long"))
    top_c = F.coalesce(F.array_max(lens), F.lit(0).cast("long"))
    rep_c = (n - F.size(F.filter(lens, lambda x: x == 1))).cast("long")
    return F.when(n == 0, F.struct(F.lit(0).cast("long").alias("top_c"),
                                   F.lit(0).cast("long").alias("rep_c"))).otherwise(
        F.struct(top_c.alias("top_c"), rep_c.alias("rep_c"))
    )


def word_ngrams(toks: Column, ngram: int) -> Column:
    """All word n-grams (WITH duplicates — repetition counting needs
    multiplicity; contrast :func:`shingles_of` which dedups)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - ngram, F.lit(0)))
    return F.when(
        k >= ngram,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram))),
    ).otherwise(F.array())


def repetition_features(
    df: DataFrame, id_col: str, text_col: str = "text", *, ngram: int = 2
) -> DataFrame:
    """Repetition/boilerplate signals per document (the Gopher-style
    repetition filters: templated pages, keyword stuffing, and scraped
    boilerplate all light up on these):

    - ``n_lines`` — non-empty trimmed line count
    - ``dup_line_frac`` — fraction of lines that are repeats of an
      earlier line (1 - distinct/total)
    - ``dup_line_char_frac`` — fraction of line characters inside those
      repeats (char-weighted variant; one giant duplicated paragraph
      should weigh more than a duplicated "Home")
    - ``top_ngram_frac`` — share of word ``ngram``-grams taken by the
      single most frequent one
    - ``rep_ngram_frac`` — share of word ``ngram``-grams that occur
      more than once

    EVERY signal — line and n-gram alike — is a per-row array expression
    (codegen, zero shuffle): the n-gram counts come from a sorted-run
    fold (:func:`ngram_run_stats`), never a per-document quadratic scan
    and never an exchange, so book-length documents cost
    O(tokens·log tokens) map-side and the whole feature pass is one
    projection at 100 TB. Documents with no lines / fewer than ``ngram``
    tokens score 0.0 on the respective fractions.
    """
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    n_lines = F.size(lines)
    d_lines = F.size(F.array_distinct(lines))
    tot_chars = F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x))
    dis_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda a, x: a + F.length(x)
    )
    # tokens materialized in their own projection — the n-gram build
    # references them repeatedly (see corpus_filter note)
    df = df.select("*", tokens(text_col).alias("__rf_toks"))
    grams = word_ngrams(F.col("__rf_toks"), ngram)
    pre = df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        F.round(
            F.when(n_lines == 0, F.lit(0.0)).otherwise((n_lines - d_lines) / n_lines), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(tot_chars == 0, F.lit(0.0)).otherwise(
                (tot_chars - dis_chars) / tot_chars
            ),
            6,
        ).alias("dup_line_char_frac"),
        # materialized ONCE per row — ngram_run_stats' usage contract
        sorted_gram_hashes(grams).alias("_sh"),
    )
    stats = ngram_run_stats(F.col("_sh"))
    tot_c = F.size(F.col("_sh")).cast("long")
    return pre.select(
        id_col,
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        F.round(
            F.when(tot_c == 0, F.lit(0.0)).otherwise(stats["top_c"] / tot_c), 6
        ).alias("top_ngram_frac"),
        F.round(
            F.when(tot_c == 0, F.lit(0.0)).otherwise(stats["rep_c"] / tot_c), 6
        ).alias("rep_ngram_frac"),
    )


def token_rarity(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    rare_max_count: int = 2,
) -> DataFrame:
    """Corpus-relative token-rarity quality signals per document:

    - ``mean_token_freq`` — mean corpus frequency of the doc's tokens
      (Σ count(tok) / (N · n_doc_tokens)). High ⇒ stopword/boilerplate
      soup; low ⇒ OCR noise, gibberish, or id-dense logs. The standard
      cheap stand-in for an LM quality score whose log-prob math would
      not replay bit-exactly across engines — every quantity here is an
      INTEGER until one final double division, so the DuckDB oracle
      hash-matches exactly.
    - ``rare_token_frac`` — fraction of the doc's tokens occurring
      ≤ ``rare_max_count`` times corpus-wide (hapax-ish share).

    Plan: one explode → token-keyed count (map-side combined) builds the
    vocab; the exploded stream then joins the vocab and re-aggregates by
    doc id. At test SF AQE broadcasts the vocab so the doc side never
    shuffles on the (stopword-skewed) token key; at 100 TB either hint
    the broadcast (vocab ≪ corpus) or let AQE's skew-join split the hot
    stopword partitions. Docs with zero tokens are absent (no rows to
    score), matching the oracle.
    """
    ex = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    vocab = ex.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("long").alias("_n_total"))
    per = (
        ex.join(vocab, "t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("c").cast("long").alias("_sum_c"),
            F.sum((F.col("c") <= rare_max_count).cast("long")).alias("_n_rare"),
        )
    )
    return per.crossJoin(F.broadcast(total)).select(
        F.col(id_col),
        F.col("n_toks").cast("long").alias("n_toks"),
        F.round(
            F.col("_sum_c")
            / (F.col("_n_total").cast("double") * F.col("n_toks")),
            9,
        ).alias("mean_token_freq"),
        F.round(F.col("_n_rare") / F.col("n_toks"), 6).alias("rare_token_frac"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    add_k: float = 0.5,
) -> DataFrame:
    """Statistical-LM quality scoring (the CCNet/Gopher perplexity-filter
    move, distilled to its SQL-expressible core): train an add-k-smoothed
    BIGRAM language model on the corpus itself, then score every document
    by its mean token log-probability under that model —
    ``(id, n_bigrams, avg_logprob, perplexity)``. Low perplexity ⇒ the
    document looks like the corpus (fluent, conventional); high ⇒ OCR
    noise, gibberish, id-dense logs, wrong language. Where
    :func:`token_rarity` scores tokens independently, this scores token
    TRANSITIONS — the signal that separates shuffled-word soup (every
    token common, every transition rare) from prose.

    Model: ``P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V)`` with unigram /
    bigram counts and vocab size ``V`` from the full corpus; a document's
    ``avg_logprob`` is the tf-weighted mean of ``ln P`` over its bigrams
    and ``perplexity = exp(-avg_logprob)``. Self-scoring means every doc
    bigram exists in the model (no OOV path); out-of-corpus scoring is
    the same join with the model tables persisted.

    Denominator choice (deliberate, per the round-8 review): ``C(w1)``
    is w1's FULL corpus unigram count — including its occurrences as the
    last token of a document, which have no outgoing transition — not
    its count as a bigram PREFIX. ``Σ_w2 P(w2|w1)`` is therefore
    slightly below 1 for tokens that end documents: a strictly
    sub-normalized (penalized-at-document-edges) smoothed model, not a
    textbook conditional. The variant is standard for filtering (CCNet
    scores with fixed external models and absolute thresholds; only the
    RANKING of documents matters here), keeps the plan to exactly two
    count tables, and is replayed identically by the qd51 oracle. Use
    per-doc last-token subtraction if true conditional normalization is
    ever needed.

    Plan: one explode builds the unigram vocab (map-side combined), one
    bigram pass (array slice+zip — no self-join) builds the bigram counts
    AND the per-doc (w1, w2, tf) reduction; the doc side then joins the
    two count tables — vocab-sized, AQE-broadcast at test SF; at 100 TB
    hint the broadcast or let AQE's skew split absorb the stopword-pair
    hot keys (same note as :func:`token_rarity`). ``V`` is one collected
    scalar, like BM25's ``n_docs``.

    Determinism: all counts are exact ints, so every ratio is the same
    IEEE double on any engine; ``avg_logprob`` rounds to 6dp BEFORE
    ``perplexity = exp(-·)`` is derived from the ROUNDED value (the qd45
    ln-then-round convention — distributed summation-order ulps are
    absorbed by the rounding, and the exp sees identical inputs on both
    engines). Documents with fewer than two tokens have no transitions
    to score and are omitted, matching the oracle."""
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("_t"))
    # vocab-sized unigram counts, pinned: the vocab-size scalar needs an
    # action anyway, and pinning makes that action the ONLY unigram
    # tokenize — the final plan reuses the pinned counts, so the corpus
    # pays the tokenizer regex twice total (unigrams + bigrams), not 3×
    uc = (
        base.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=False)
    )
    v = uc.count()  # vocab size — one scalar, the smoothing denominator;
    # a full scan, so it is also the job that materializes the lazy pin

    big = (
        base.filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, F.size("_t") - 1).alias("w1"),
                    F.slice("_t", 2, F.size("_t") - 1).alias("w2"),
                )
            ).alias("_bg"),
        )
        .select(F.col(id_col), F.col("_bg.w1"), F.col("_bg.w2"))
    )
    # PIN the per-doc bigram reduction: it feeds BOTH the model's bigram
    # counts and the scoring join, and as a lazy plan each consumer
    # re-ran the tokenize + arrays_zip explode over the corpus — the
    # second of the two heavy passes, paid twice. The pinned frame is
    # the reduced (doc, w1, w2, tf) table the join needs anyway.
    doc_bg = big.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint()  # eager: feeds two concurrent leaves (bc + join)
    bc = doc_bg.groupBy("w1", "w2").agg(F.sum("tf").alias("cb"))

    contrib = (
        doc_bg.join(bc, ["w1", "w2"])
        .join(uc.withColumnRenamed("w", "w1"), "w1")
        .select(
            F.col(id_col),
            "tf",
            (
                F.col("tf")
                * F.log(
                    (F.col("cb") + F.lit(float(add_k)))
                    / (F.col("cu") + F.lit(float(add_k) * v))
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.round(F.sum("c") / F.sum("tf"), 6).alias("avg_logprob"),
    ).withColumn(
        "perplexity", F.round(F.exp(-F.col("avg_logprob")), 6)
    )


def token_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    *,
    add_k: float = 0.5,
    top_k: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    pipeline-monitoring check every recurring ingest needs ("did this
    crawl's vocabulary shift?", "is source X polluting the mix?").
    Returns the ``top_k`` tokens by absolute KL contribution:
    ``(token, p_a, p_b, kl_contrib, rank)`` where ``kl_contrib =
    p_a · ln(p_a / p_b)`` and the probabilities are add-k smoothed over
    the UNION vocabulary (so a token present in only one snapshot gets a
    finite, k-scaled contribution instead of ±inf). Σ over the full
    vocab is KL(A‖B); the top-|contribution| rows are the actionable
    artifact — which tokens drove the drift, signed (positive ⇒
    over-represented in A).

    Plan: one explode + count per side (map-side combined), a
    vocab-sized full outer join, one broadcast 1-row totals join, and a
    TakeOrderedAndProject for the top-k — nothing scales past the vocab
    after the two corpus passes. Determinism: integer counts make every
    smoothed ratio the same IEEE double on any engine; contributions
    round to 9dp BEFORE the rank (|contribution| desc, token asc), the
    module's rank-after-round convention."""

    def counts(df, name):
        return (
            df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return drift_from_counts(
        counts(df_a, "ca"), counts(df_b, "cb"), add_k=add_k, top_k=top_k
    )


def drift_from_counts(
    ca: DataFrame,
    cb: DataFrame,
    *,
    add_k: float = 0.5,
    top_k: int = 20,
) -> DataFrame:
    """The counts→drift core of :func:`token_drift`, exposed for callers
    that already HOLD token-count tables — above all the streaming
    drift monitor (``streaming.ingest.token_count_sink`` folds its
    per-batch ledger to ``(token, ca)`` and compares against a pinned
    reference snapshot without re-reading any text). ``ca``/``cb`` are
    ``(token, ca)`` / ``(token, cb)`` integer-count DataFrames; math,
    determinism contract, and plan shape as :func:`token_drift`."""
    # PIN the merged vocab: it feeds BOTH the totals aggregate (the
    # broadcast build below) and the scored projection, and as a lazy
    # plan each consumer re-ran the full outer join AND its inputs —
    # for the drift monitors that means tokenizing the reference corpus
    # twice per check. The pinned frame is vocab-sized (the whole point
    # of counting first), so the checkpoint is cheap at any corpus size.
    vocab = ca.join(cb, "token", "full").select(
        "token",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    ).localCheckpoint(eager=False)
    # The three totals COLLECT here rather than broadcast-joining: the
    # collect is the lazy pin's materializing action and runs as an
    # ordinary unbounded job, where the previous broadcast(totals) form
    # materialized the pin INSIDE the broadcast build — the entire
    # upstream pipeline (two corpus tokenizes for token_drift callers)
    # under spark.sql.broadcastTimeout (round-11 ADVICE, medium). The
    # scalars then ride the projection as literals: one fewer exchange,
    # and the smoothed ratios are the same IEEE doubles (exact longs in,
    # identical double ops — Spark would evaluate double(na) + k·double(v)
    # per row; Python computes the identical operations once).
    row = vocab.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("v"),
    ).collect()[0]
    na, nb, v = int(row["na"] or 0), int(row["nb"] or 0), int(row["v"] or 0)
    k = float(add_k)
    scored = vocab.select(
        "token",
        ((F.col("ca") + k) / F.lit(float(na) + k * float(v))).alias("p_a"),
        ((F.col("cb") + k) / F.lit(float(nb) + k * float(v))).alias("p_b"),
    ).select(
        "token",
        F.round("p_a", 9).alias("p_a"),
        F.round("p_b", 9).alias("p_b"),
        F.round(
            F.col("p_a") * F.log(F.col("p_a") / F.col("p_b")), 9
        ).alias("kl_contrib"),
    )
    from pyspark.sql.window import Window

    # top-k CUT first (TakeOrderedAndProject — distributed partial
    # take); the rank window then runs over ≤ top_k rows, never the
    # vocab (the qd33 cut-before-rank pattern — a global row_number over
    # the full vocab would be the single-task window this engine bans)
    cut = scored.orderBy(
        F.abs(F.col("kl_contrib")).desc(), F.col("token")
    ).limit(top_k)
    w = Window.orderBy(F.abs(F.col("kl_contrib")).desc(), F.col("token"))
    return cut.withColumn("rank", F.row_number().over(w).cast("int"))


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into overlapping character chunks — the retrieval/
    embedding prep stage (chunk → embed → index). One row per chunk:
    ``(id, chunk_idx, chunk_text, chunk_len)``.

    Chunks start every ``size - overlap`` characters; the final chunk may
    be shorter than ``size``. Empty documents yield no chunks. The whole
    operator is generate-offsets → explode → substring: pure column
    expressions, no UDF, and the explode multiplies rows ~len/step× — at
    100 TB feed it pre-filtered/deduplicated text and let the downstream
    embed stage consume the exploded stream without materializing it.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    c = F.col(text_col)
    starts = F.sequence(F.lit(0), F.length(c) - 1, F.lit(step))
    return (
        df.filter(F.length(c) > 0)
        .select(id_col, c.alias("_t"), F.posexplode(starts).alias("chunk_idx", "_s"))
        .select(
            id_col,
            "chunk_idx",
            F.expr(f"substring(_t, _s + 1, {size})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def corpus_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_chars: int = 100,
    max_chars: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_punct_ratio: float = 0.25,
    max_dup_line_frac: float = 0.3,
    max_top_ngram_frac: float = 0.2,
    allowed_langs: "tuple[str, ...] | None" = None,
    ngram: int = 2,
    tokens_col: "str | None" = None,
) -> DataFrame:
    """Gopher-style corpus filter: composes the length/token/punctuation
    signals with the repetition signals (and optionally language ID) into
    a single keep/drop decision, keeping WHY a document fell out —
    ``drop_reasons`` is the comma-joined reason list (empty ⇔ ``keep``),
    so the filter's yield per reason is one groupBy away (the knob every
    data-curation run tunes first).

    EVERY per-document signal — length, token stats, punctuation,
    language, duplicate-line fraction, AND the n-gram repetition counts
    (sorted-run scan, :func:`ngram_run_stats`) — is a per-row
    expression: the whole filter is a chain of map-side projections with
    no exchange anywhere, which at 100 TB means quality filtering costs
    one read of the corpus and zero network. ``tokens_col`` accepts a
    pre-tokenized array column (see ``curate.curate_corpus``) so a
    pipeline that already paid the tokenizer pass never re-runs it.
    Thresholds compare the same doubles the qd04/qd31 oracles hash-check,
    so engine-portable replays agree even at threshold boundaries.
    """
    wide = _filter_decisions(
        df,
        text_col,
        min_chars=min_chars,
        max_chars=max_chars,
        min_mean_tok_len=min_mean_tok_len,
        max_mean_tok_len=max_mean_tok_len,
        max_punct_ratio=max_punct_ratio,
        max_dup_line_frac=max_dup_line_frac,
        max_top_ngram_frac=max_top_ngram_frac,
        allowed_langs=allowed_langs,
        ngram=ngram,
        tokens_col=tokens_col,
        lang_name="_cf_lang_o",
        reasons_name="_cf_dr_o",
        keep_name="_cf_keep_o",
    )
    return wide.select(
        F.col(id_col),
        F.col("_cf_lang_o").alias("lang"),
        F.col("_cf_dr_o").alias("drop_reasons"),
        F.col("_cf_keep_o").alias("keep"),
    )


#: Working columns :func:`_filter_decisions` adds and drops again.
_CF_WORK_COLS = (
    "_cf_nc", "_cf_mtl", "_cf_pr", "_cf_dlf", "_cf_sh", "_cf_tnf", "__cf_toks",
)


def _filter_decisions(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_chars: int = 100,
    max_chars: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_punct_ratio: float = 0.25,
    max_dup_line_frac: float = 0.3,
    max_top_ngram_frac: float = 0.2,
    allowed_langs: "tuple[str, ...] | None" = None,
    ngram: int = 2,
    tokens_col: "str | None" = None,
    lang_name: str = "lang",
    reasons_name: str = "drop_reasons",
    keep_name: str = "keep",
) -> DataFrame:
    """:func:`corpus_filter`'s decision core as APPENDED columns: the
    input rows pass through unchanged with (``lang_name``,
    ``reasons_name``, ``keep_name``) added — same signal expressions,
    same values. Exposed (module-internal) so a pipeline that needs the
    decisions NEXT TO the document columns (``curate.curate_corpus``'s
    fused funnel frame) doesn't have to aggregate-and-join the id-keyed
    decision table back to the corpus; output column names are
    caller-chosen because the input may already carry e.g. a ``lang``
    column that the dropped-columns form of :func:`corpus_filter` never
    collided with. An input already carrying one of the working or output
    column names is refused with ``ValueError``."""
    for reserved in (*_CF_WORK_COLS, lang_name, reasons_name, keep_name):
        if reserved in df.columns:
            raise ValueError(
                f"_filter_decisions: column {reserved!r} already exists"
            )
    created_toks = False
    if tokens_col is None:
        # Materialize the token arrays in their OWN projection first: the
        # signal expressions below reference the tokens many times (mean
        # length, per-language filters, n-gram build), and an inline
        # tokenizer expression is re-evaluated per reference.
        df = df.select("*", tokens(text_col).alias("__cf_toks"))
        tokens_col = "__cf_toks"
        created_toks = True
    toks = F.col(tokens_col)
    n_chars = F.length(F.col(text_col))
    n_toks = F.size(toks)
    mean_tok_len = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
        / n_toks
    )
    # duplicate-line fraction is a pure per-row array expression — same
    # formula as repetition_features, fused into the signal projection
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    d_lines = F.size(F.array_distinct(lines))
    dup_line_frac = F.round(
        F.when(n_lines == 0, F.lit(0.0)).otherwise((n_lines - d_lines) / n_lines), 6
    )
    # word-ngram repetition: sorted-run scan (ngram_run_stats) — same
    # integer counts as the grouped aggregate, but a pure per-row
    # expression, so the WHOLE filter is two chained map-side projections
    # with no exchange anywhere (the first materializes the sorted gram
    # hashes once per row — ngram_run_stats' usage contract)
    pre = df.select(
        "*",
        n_chars.alias("_cf_nc"),
        mean_tok_len.alias("_cf_mtl"),
        punct_ratio(text_col).alias("_cf_pr"),
        detect_language(text_col, toks=toks).alias(lang_name),
        dup_line_frac.alias("_cf_dlf"),
        sorted_gram_hashes(word_ngrams(toks, ngram)).alias("_cf_sh"),
    )
    tot_c = F.size(F.col("_cf_sh")).cast("long")
    top_ngram_frac = F.round(
        F.when(tot_c == 0, F.lit(0.0)).otherwise(
            ngram_run_stats(F.col("_cf_sh"))["top_c"] / tot_c
        ),
        6,
    )
    j = pre.withColumn("_cf_tnf", top_ngram_frac).drop("_cf_sh")
    reasons = [
        F.when(F.col("_cf_nc") < min_chars, F.lit("too_short")),
        F.when(F.col("_cf_nc") > max_chars, F.lit("too_long")),
        F.when(
            (F.col("_cf_mtl") < min_mean_tok_len)
            | (F.col("_cf_mtl") > max_mean_tok_len),
            F.lit("token_length"),
        ),
        F.when(F.col("_cf_pr") > max_punct_ratio, F.lit("punctuation")),
        F.when(F.col("_cf_dlf") > max_dup_line_frac, F.lit("dup_lines")),
        F.when(F.col("_cf_tnf") > max_top_ngram_frac, F.lit("repetition")),
    ]
    if allowed_langs is not None:
        reasons.append(
            F.when(~F.col(lang_name).isin(*allowed_langs), F.lit("language"))
        )
    drop_reasons = F.concat_ws(",", *reasons)  # concat_ws skips NULLs
    out = (
        j.withColumn(reasons_name, drop_reasons)
        .withColumn(keep_name, F.col(reasons_name) == "")
        .drop("_cf_nc", "_cf_mtl", "_cf_pr", "_cf_dlf", "_cf_tnf")
    )
    return out.drop("__cf_toks") if created_toks else out


def line_doc_frequency(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    split_re: str = "\\n",
) -> DataFrame:
    """Per-line document frequency over the corpus: ``(line, n_docs)`` —
    the boilerplate census behind :func:`line_dedup` (navigation chrome,
    cookie banners, license headers repeat VERBATIM across pages; their
    line-level doc frequency is how C4/Falcon-style pipelines find them).
    One explode + one map-side-combined aggregate; only line strings
    shuffle."""
    lines = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), split_re, -1)).alias("line"),
    )
    return lines.groupBy("line").agg(
        F.count_distinct("_doc").cast("long").alias("n_docs")
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    split_re: str = "\\n",
    join_str: str = "\n",
    max_doc_frequency: int = 1,
) -> DataFrame:
    """Corpus-level LINE dedup (the C4 move, done at line granularity like
    Falcon/RefinedWeb): drop every line whose exact text occurs in more
    than ``max_doc_frequency`` distinct documents — boilerplate repeats
    verbatim across pages, prose doesn't — and reassemble each document's
    surviving lines in their original order. Documents whose every line
    was boilerplate come back with empty text (kept, so the caller's
    row count is stable and a quality filter can drop them explicitly).

    Plan shape: positional explode → line-keyed doc-frequency aggregate →
    frequency filter via join on the line string → per-doc ordered
    reassembly (``array_sort`` over collected (pos, line) structs — state
    bounded by document size, same contract as :func:`chunk_text`). Only
    line strings and (pos, line) pairs shuffle; at 100 TB consider
    hashing lines to int64 first (same trick as the shingle index) if
    line text is long."""
    for reserved in ("_doc", "_pos", "_line", "_df", "_clean"):
        if reserved in df.columns:
            raise ValueError(f"line_dedup: column {reserved!r} already exists")
    lines = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), split_re, -1)).alias(
            "_pos", "_line"
        ),
    )
    freq = lines.groupBy("_line").agg(
        F.count_distinct("_doc").alias("_df")
    )
    kept = (
        lines.join(freq, "_line")
        .filter(F.col("_df") <= max_doc_frequency)
        .groupBy("_doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                join_str,
            ).alias("_clean")
        )
    )
    return (
        df.join(kept, df[id_col] == kept["_doc"], "left")
        .withColumn(text_col, F.coalesce(F.col("_clean"), F.lit("")))
        .drop("_doc", "_clean")
    )


def quality_score_expr(text_col: str | Column = "text") -> Column:
    """The composite [0,1] quality score as a single column expression
    (the qd04 formula: length band 0.4 + mean-token-length band 0.2 +
    low-punctuation 0.2 + stopword presence 0.2) — factored out so
    ranking/selection operators (`curate.select_token_budget`) and the
    per-source rollup score documents identically. Pure column
    arithmetic, codegen'd; engine-portable (the DuckDB twin replays it
    bit-exactly in qd04/qd49)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    n_toks = F.size(toks)
    n_chars = F.length(c)
    mean_tok_len = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double")
        / n_toks
    )
    return (
        ((n_chars >= 50) & (n_chars <= 100_000)).cast("double") * 0.4
        + ((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0)).cast("double") * 0.2
        + (1.0 - F.least(punct_ratio(c) * 4.0, F.lit(1.0))) * 0.2
        + F.least(stopword_ratio(c) * 4.0, F.lit(1.0)) * 0.2
    )


# -- hashed-ngram quality classifier (round 10) -------------------------------
#
# The fastText-style corpus-quality filter (Joulin et al. 2016, the
# other standard next to DSIR's distribution matching): logistic
# regression on hashed word-n-gram features, trained with full-batch
# gradient descent. The twist that makes it ENGINE-PORTABLE — and
# therefore oracle-checkable end to end (qd66) — is FIXED-POINT
# arithmetic: weights live as integers scaled by 1e9, per-document
# residual coefficients quantize to integers before the gradient fold,
# so every distributed sum is an exact bigint (order-free) and the only
# floats are scalar sigmoid/division ops that evaluate identically on
# any IEEE engine. A DuckDB twin unrolls the iterations as CTEs and
# reproduces the trained model bit-for-bit.

#: fixed-point scale for classifier weights/residuals
_CLF_SCALE = 1_000_000_000


def _round_half_away(x: float) -> int:
    """Round half AWAY from zero — matching Spark's ``F.round`` and
    DuckDB's ``round`` on doubles. Python's builtin ``round`` is
    half-EVEN and would diverge from both engines exactly on the .5
    boundary (reachable here: ``lr·grad/n`` hits .5 whenever
    ``grad/n = 0.5/lr`` exactly)."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _clf_buckets(df: DataFrame, id_col: str, text_col: str,
                 num_buckets: int, salt: str) -> DataFrame:
    """Hashed feature counts ``(id, bucket, tf)``: word unigrams and
    bigrams hash through the portable md5-60-bit idiom into
    ``num_buckets`` (fastText's hashing trick — the model is FIXED-SIZE
    regardless of vocabulary, broadcastable at any corpus scale). One
    tokenize feeds both n-gram orders; the groupBy is map-side combined
    so raw occurrences never funnel through one reducer."""
    # ONE tokenize, ONE explode: the previous union of a unigram branch
    # and a bigram branch re-ran the tokenizer regex per branch (Spark
    # shares no common subtrees across a union), and the bigram branch
    # built struct rows through arrays_zip — the same named-struct
    # codegen cliff qd64's span profile hit. Both n-gram orders now
    # materialize as plain salted STRINGS inside one array (identical
    # md5 inputs, so buckets — and the trained model — are bit-equal),
    # and a single explode feeds the map-side-combined count.
    t = tokens(text_col)
    base = df.select(F.col(id_col), t.alias("_t"))
    uni = F.transform(
        F.col("_t"), lambda w: F.concat(F.lit(f"{salt}|1|"), w)
    )
    big = F.when(
        F.size("_t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.concat(
                F.lit(f"{salt}|2|"),
                F.element_at(F.col("_t"), i),
                F.lit(" "),
                F.element_at(F.col("_t"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        F.col(id_col), F.explode(F.concat(uni, big)).alias("_g")
    )
    return grams.select(
        F.col(id_col), (md5_60bit(F.col("_g")) % num_buckets).alias("bucket")
    ).groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("tf"))


def _clf_rowwise_margin(feats: DataFrame, id_col: str,
                        w_q: dict, b_q: int, spark) -> DataFrame:
    """Margin/probability attached to EVERY (id, bucket, tf) feature row
    in ONE pass, with no per-doc aggregate-and-join-back: ``feats`` is
    pinned hash-partitioned by doc id, so a window over the id computes
    the per-doc sums in a partition-local sort — zero exchanges.

    - ``mnum = Σ tf·w_q`` and ``dl = Σ tf`` per doc (unbounded window
      sums of exact bigints — order-free, bit-identical to the old
      ``groupBy(id)`` form);
    - ``margin = (b_q·dl + mnum) / (dl·SCALE)`` and ``p = σ(margin)``
      (per-row scalar IEEE ops on per-doc-constant inputs);
    - ``_rn`` marks ONE designated row per doc (row_number over the
      (id, bucket) total order), so doc-level sums can ride a
      bucket-level aggregation exactly: every doc contributes its
      doc-level term through exactly one (bucket-grouped) row.

    This is the round-11 "two feats passes per GD iteration" floor
    broken: margins and gradients now share one scan (round-11 verdict
    #4) because the gradient's bucket regrouping no longer needs the
    margins to be reduced to one row per doc first."""
    wdf = local_rows(
        spark, [(int(b), int(q)) for b, q in sorted(w_q.items())],
        "bucket long, wq long",
    )
    wdoc = Window.partitionBy(id_col)
    worder = Window.partitionBy(id_col).orderBy("bucket")
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .withColumn(
            "mnum",
            F.sum(F.col("tf") * F.coalesce("wq", F.lit(0)))
            .over(wdoc).cast("long"),
        )
        .withColumn("dl", F.sum("tf").over(wdoc).cast("long"))
        .withColumn("_rn", F.row_number().over(worder))
        .withColumn(
            "margin",
            (F.lit(int(b_q)) * F.col("dl") + F.col("mnum"))
            / (F.col("dl") * F.lit(float(_CLF_SCALE))),
        )
        .withColumn("p", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
        .drop("wq")
    )


def train_quality_classifier(
    df: DataFrame,
    id_col: str,
    is_positive: Column,
    text_col: str = "text",
    *,
    num_buckets: int = 64,
    iters: int = 3,
    lr: float = 20.0,
    salt: str = "qclf",
    keep_features: bool = False,
) -> dict:
    """Train the hashed-ngram logistic quality classifier: ``iters``
    full-batch gradient-descent steps from zero weights. Features are
    mean-normalized (x = tf/dl, so Σx = 1 per document and the margin
    is a convex combination of weights — fastText's averaging); labels
    come from the ``is_positive`` boolean column expression. Documents
    that tokenize to nothing have no features and are excluded (the
    qd51/qd60 convention).

    Each iteration is ONE distributed pass over the PINNED feature
    reduction, never the text (round-11 verdict #4 — was two passes +
    an eager residual checkpoint): margins attach to every feature row
    by id-partition-local window sums (``_clf_rowwise_margin``), the
    quantized residual coefficients fold per bucket as exact bigints in
    the same plan, and the bias gradient rides the same collect through
    a designated-row channel (the driver pulls ``num_buckets`` rows per
    iteration). Updates ``w ← w − round(lr·grad/n)`` in fixed point.
    Returns ``{"w_q", "b_q", "n_docs", "num_buckets", "iters", "lr",
    "salt"}`` — json-serializable, tiny, engine-portable (gate qd66
    replays training in unrolled DuckDB CTEs, bit-exact).

    ``keep_features=True`` additionally returns ``"features"`` — the
    PINNED (id, bucket, tf) frame training already paid for — instead of
    releasing it, so a caller about to SCORE the same corpus under the
    same (num_buckets, salt) can pass it to
    :func:`quality_classifier_scores` and skip a second full
    feature-hash pass (the md5 n-gram hashing is the dominant CPU of
    both train and score). The caller owns the checkpoint's lifetime."""
    if num_buckets < 2 or iters < 1 or lr <= 0:
        raise ValueError("need num_buckets ≥ 2, iters ≥ 1, lr > 0")
    from sql_data_warehouse_analytics_project_spark.llm.vocab import (
        _release_checkpoint,
    )

    spark = df.sparkSession
    # Pin the feature reduction PARTITIONED BY DOC ID: every later pass
    # (margin groupBy(id), gradient join on id, label join) is keyed by
    # the doc id, so materializing the checkpoint in that layout lets
    # each iteration's plan satisfy its distribution requirements from
    # the pinned RDD instead of re-exchanging the features once per
    # margin pass and once per gradient pass (localCheckpoint preserves
    # the physical partitioning). _clf_buckets otherwise ends hash-
    # partitioned on (id, bucket), which satisfies neither.
    # PINNED partition count (spark.sql.shuffle.partitions — conf-
    # parameterised, so a cluster sets it to its own scale): an AQE-
    # coalescible repartition was measured to collapse this frame to ONE
    # partition at gate scale, serializing every subsequent training
    # pass (margins, gradient joins) on one core — 2.3× slower than the
    # pinned parallel layout despite running fewer tasks.
    # EAGER on purpose (measured): a lazy pin here rode docs_t's
    # materialization, but interleaved A/B showed qd66 +18% both times —
    # the trainer's 8+ subsequent passes are sensitive to exactly when
    # and how this frame lands in the block manager, and the eager
    # materialize-then-train order is the faster shape. One job saved
    # was not worth it on the suite's #1 key.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    feats = (
        _clf_buckets(df, id_col, text_col, num_buckets, salt)
        .repartition(nparts, F.col(id_col))
        .localCheckpoint(eager=True)
    )
    labels = df.select(
        F.col(id_col),
        # NULL labels coalesce to negative on BOTH sides (the DuckDB
        # twin does COALESCE(yb, FALSE)) — otherwise a NULL-label doc's
        # residual silently drops out of the gradient/bias sums here
        # while the twin counts it as class 0, and the two independently
        # trained models diverge.
        F.coalesce(is_positive.cast("boolean"), F.lit(False)).alias("_y"),
    )
    docs_t = (
        feats.groupBy(id_col)
        .agg(F.sum("tf").cast("long").alias("dl"))
        .join(labels, id_col)
        .withColumn("y", F.col("_y").cast("int"))
        .drop("_y")
        .localCheckpoint(eager=True)
    )
    # ONE action for the NB-init bucket counts AND the two scalars the
    # trainer needs (row count + positive count). The doc-level scalars
    # ride the SAME bucket-grouped aggregation through a designated-row
    # trick: `_rn = 1` marks exactly one feature row per doc (row_number
    # over the (id, bucket) total order — a partition-local sort, feats
    # being pinned hash-partitioned by id), so summing a doc-level term
    # only over `_rn = 1` rows inside the per-bucket groups and adding
    # the per-bucket partials on the driver is the exact per-doc sum —
    # every doc contributes through exactly one bucket group. No second
    # scan of docs_t, no union leg.
    worder = Window.partitionBy(id_col).orderBy("bucket")
    crows = (
        feats.join(docs_t.select(id_col, "y"), id_col)
        .withColumn("_rn", F.row_number().over(worder))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("y") == 1, F.col("tf")).otherwise(0))
            .cast("long").alias("ct"),
            F.sum("tf").cast("long").alias("cr"),
            F.sum(F.when(F.col("_rn") == 1, F.col("y")).otherwise(0))
            .cast("long").alias("np_part"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("long").alias("nd_part"),
        )
        .collect()
    )
    n_docs = sum(int(r["nd_part"]) for r in crows)
    n_pos = sum(int(r["np_part"]) for r in crows)
    w_q: dict[int, int] = {}
    b_q = 0
    if n_docs:
        # Naive-Bayes initialization (Wang & Manning 2012's NB-LR/NBSVM
        # move): start each weight at the smoothed per-bucket class
        # log-count ratio and the bias at the class log-odds — the
        # analytic one-pass optimum of the generative twin, which GD
        # then fine-tunes discriminatively. Plain full-batch GD from
        # zero needs hundreds of iterations to recover this ranking
        # (measured: AUC stuck ~0.73 vs 0.94 from the init). The ratio
        # math runs DRIVER-side on collected integer bucket counts
        # (num_buckets rows) with math.log — the same libm the DuckDB
        # twin's ln() calls, so the fixed-point init is bit-replayable.
        import math as _math

        k = 0.5
        kb = k * num_buckets
        tt = sum(int(r["ct"]) for r in crows)
        tr = sum(int(r["cr"]) for r in crows)
        tn = tr - tt
        for r in crows:
            ct, cn = int(r["ct"]), int(r["cr"]) - int(r["ct"])
            llr = _math.log((ct + k) / (tt + kb)) - _math.log(
                (cn + k) / (tn + kb)
            )
            w_q[int(r["bucket"])] = _round_half_away(llr * _CLF_SCALE)
        b_q = _round_half_away(
            _math.log((n_pos + k) / (n_docs - n_pos + k)) * _CLF_SCALE
        )
        for _ in range(iters):
            # ONE action and ONE pass over the pinned features per
            # iteration (round-11 verdict #4; was: a margin pass +
            # eager residual checkpoint + a gradient join-back pass).
            # `_clf_rowwise_margin` attaches the per-doc margin to every
            # feature row via id-partition-local window sums, so the
            # bucket gradient `Σ_docs cq·tf` regroups those SAME rows by
            # bucket directly, and the bias gradient `Σ_docs rq` rides
            # the same aggregation through the `_rn = 1` designated-row
            # channel (each doc's rq counted exactly once, inside
            # whichever bucket group its designated row lands — the
            # driver adds the per-bucket partials). All sums are exact
            # bigints over identical per-doc values, so the trained
            # weights are bit-identical to the two-pass form.
            grows = (
                _clf_rowwise_margin(feats, id_col, w_q, b_q, spark)
                .join(docs_t.select(id_col, "y"), id_col)
                .withColumn("resid", F.col("p") - F.col("y"))
                .withColumn(
                    "rq",
                    F.round(F.col("resid") * _CLF_SCALE, 0).cast("long"),
                )
                .withColumn(
                    "cq",
                    F.round(
                        F.col("resid") / F.col("dl") * _CLF_SCALE, 0
                    ).cast("long"),
                )
                .groupBy("bucket")
                .agg(
                    F.sum(F.col("cq") * F.col("tf")).cast("long").alias("g"),
                    F.sum(F.when(F.col("_rn") == 1, F.col("rq")).otherwise(0))
                    .cast("long").alias("gb_part"),
                )
                .collect()
            )
            gb = sum(int(r["gb_part"]) for r in grows)
            for r in grows:
                step = _round_half_away(lr * int(r["g"]) / n_docs)
                w_q[int(r["bucket"])] = w_q.get(int(r["bucket"]), 0) - step
            b_q -= _round_half_away(lr * int(gb) / n_docs)
    _release_checkpoint(docs_t)
    if not keep_features:
        _release_checkpoint(feats)
    out = {
        "w_q": {int(b): int(q) for b, q in w_q.items()},
        "b_q": int(b_q),
        "n_docs": int(n_docs),
        "num_buckets": int(num_buckets),
        "iters": int(iters),
        "lr": float(lr),
        "salt": salt,
    }
    if keep_features:
        out["features"] = feats
    return out


def quality_classifier_scores(
    df: DataFrame,
    model: dict,
    id_col: str,
    text_col: str = "text",
    *,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score documents under a trained classifier:
    ``(id, n_features, score, predicted)`` where ``score`` is the
    sigmoid probability rounded to 6dp (ties on the prediction boundary
    therefore compare identically on every engine) and ``predicted`` is
    ``score ≥ 0.5``. Work is one feature hash + one broadcast join —
    the production corpus-filter pass; documents with no tokens have no
    features and are omitted (the training-side convention).

    ``features`` accepts a pre-computed (ideally pinned) ``(id, bucket,
    tf)`` frame for the SAME ``df`` under the same (num_buckets, salt) —
    the train-then-score-the-training-corpus flow passes the trainer's
    ``keep_features=True`` handle and skips re-hashing the corpus (the
    md5 n-gram pass is the dominant CPU of scoring). Caller's contract
    that it matches, exactly like the shingle-``index`` reuse in
    ``llm/dedup``."""
    spark = df.sparkSession
    feats = features if features is not None else _clf_buckets(
        df, id_col, text_col, int(model["num_buckets"]), model["salt"]
    )
    # one windowed pass over the features: per-doc dl/margin attach to
    # every feature row inside its id partition and the designated row
    # (`_rn = 1`) IS the per-doc output — no dl aggregate, no
    # aggregate-then-join-back (the trainer's single-pass shape; scores
    # are bit-identical since margin/dl are the same exact sums)
    scored = _clf_rowwise_margin(
        feats, id_col, model["w_q"], int(model["b_q"]), spark
    ).filter(F.col("_rn") == 1)
    return scored.select(
        F.col(id_col),
        F.col("dl").alias("n_features"),
        F.round("p", 6).alias("score"),
        (F.round("p", 6) >= 0.5).alias("predicted"),
    )


# -- count-min sketch heavy hitters (round 11) --------------------------------

def cms_table(
    df: DataFrame,
    term_col: str,
    *,
    depth: int = 3,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) over a
    term column: a FIXED ``depth × width`` grid of exact bucket sums,
    ``bucket_j(t) = md5_60bit('{salt}{j}|' || t) % width``.

    This is the mergeable corpus summary for frequency questions at
    100 TB: the table is a few KB regardless of corpus size, two
    snapshots' tables merge by cell-wise addition (same reduction this
    groupBy performs), and point estimates never need the corpus again.
    One pass, one fixed-size shuffle (``depth × width`` cells); the
    per-row work is ``depth`` JVM md5 calls — no Python anywhere."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be positive")
    term = F.col(term_col)
    pairs = F.array(*[
        F.struct(
            F.lit(j).alias("depth"),
            (md5_60bit(F.concat(F.lit(f"{salt}{j}|"), term)) % width)
            .cast("int").alias("bucket"),
        )
        for j in range(depth)
    ])
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.depth").alias("depth"),
                 F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )


def cms_estimate(
    cms: DataFrame,
    terms: DataFrame,
    term_col: str,
    *,
    depth: int = 3,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Point-estimate term frequencies from a CMS table: the minimum
    over the ``depth`` hashed cells (never underestimates; overshoot
    bounded by collisions). The CMS side is ``depth × width`` rows —
    broadcast it; the join never shuffles the term side."""
    from pyspark.sql.functions import broadcast

    term = F.col(term_col)
    exploded = terms.select(
        term.alias("term"),
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("depth"),
                (md5_60bit(F.concat(F.lit(f"{salt}{j}|"), term)) % width)
                .cast("int").alias("bucket"),
            )
            for j in range(depth)
        ])).alias("p"),
    )
    return (
        exploded.join(
            broadcast(cms),
            (F.col("p.depth") == cms["depth"])
            & (F.col("p.bucket") == cms["bucket"]),
            "left",
        )
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cell_count"), F.lit(0)))
             .alias("est_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    *,
    k: int = 20,
    depth: int = 3,
    width: int = 64,
    salt: str = "cms",
) -> DataFrame:
    """Top-k most frequent tokens by CMS estimate, with the exact count
    alongside (so the ``est >= exact`` sketch guarantee is visible and
    oracle-checkable). Tie-break (est desc, term asc) is total — the
    result is a pure function of the corpus. The exact count here is
    per-TERM (vocabulary-sized shuffle); the sketch is what survives
    when even the vocabulary is too large to keep — estimates come from
    the fixed grid alone."""
    toks = df.select(F.explode(tokens(text_col)).alias("term"))
    cms = cms_table(toks, "term", depth=depth, width=width, salt=salt)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(cms, exact.select("term"), "term",
                       depth=depth, width=width, salt=salt)
    joined = exact.join(est, "term")
    return (
        joined.orderBy(F.col("est_count").desc(), F.col("term"))
        .limit(k)
        .select("term", "est_count", "exact_count",
                (F.col("est_count") >= F.col("exact_count"))
                .alias("never_underestimates"))
    )
