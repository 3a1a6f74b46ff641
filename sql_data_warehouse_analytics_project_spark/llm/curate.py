"""End-to-end corpus curation: the full training-data pipeline as ONE
composition of the oracle-checked stages — exact dedup → near-dup cluster
resolution → quality filter → leakage-safe split.

This is the "switch your pipeline to this engine" entry point: every
stage is the same operator the per-stage oracle queries exercise
(qd01/qd09/qd28/qd36/qd35), wired in the order a production curation run
uses them. Stage boundaries are pinned (``localCheckpoint``), or
persisted as datasets under ``write_through``; nothing collects to the
driver.

Scale shape: exact dedup shuffles once on a 32-byte fingerprint; MinHash
candidate generation is banded (never all-pairs); cluster resolution is
O(diameter) rounds over the PAIRS (tiny vs corpus); the filter adds one
doc-id-keyed aggregate; the split is a broadcast-sized cluster join plus
a map-side hash. No stage shuffles raw text more than once.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.llm import dedup as D
from sql_data_warehouse_analytics_project_spark.llm import text as T
from sql_data_warehouse_analytics_project_spark.llm.clustering import (
    dedup_by_pairs,
    dup_clusters,
    leakage_safe_split,
)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    near_dup_threshold: float = 0.8,
    splits: Mapping[str, float] | None = None,
    filter_kwargs: Mapping[str, Any] | None = None,
    write_through: str | None = None,
) -> dict[str, DataFrame]:
    """Run the full curation chain; returns every intermediate stage so
    callers can audit/write any of them:

    - ``"exact"``     — corpus after exact (fingerprint) dedup
    - ``"pairs"``     — MinHash+LSH near-dup pairs found among survivors
    - ``"near"``      — corpus after transitive near-dup resolution
      (one canonical doc per cluster)
    - ``"decisions"`` — per-doc keep/drop + reasons from the quality
      filter (over ``"near"``)
    - ``"curated"``   — filtered corpus, with a ``split`` column assigned
      leakage-safely (near-dup clusters never straddle split boundaries)

    The near-dup PAIRS from the pre-filter corpus drive the split keys,
    so two near-dups where only one survived filtering still hash to the
    same split — the surviving one cannot leak into eval against a
    training twin that was dropped for quality (it no longer exists) but
    DOES stay clustered with any other surviving members.

    By default every stage is pinned (``localCheckpoint``) so consumers
    issuing SEVERAL actions over the stages (audits,
    :func:`curation_report`'s funnel counts) execute each stage once
    instead of re-running the whole upstream chain per action. The
    stages after ``pairs``/``clusters`` are one narrow map over the
    pinned exact-dedup survivors, so ``near``, ``decisions`` and
    ``curated`` are projections of ONE shared pin (see the fused chain
    below).

    ``write_through=<dir>`` is the 100 TB audit-trail mode: every stage
    boundary (plus the ``shingles`` index and the resolved ``clusters``
    table) is PERSISTED as a parquet dataset under ``<dir>/<stage>`` via
    ``write_dataset`` and
    read back, so downstream stages consume the durable copy — each
    intermediate is independently queryable/auditable after the run, a
    crash leaves every completed stage on disk for inspection or a
    manual restart from its dataset, and nothing relies on
    executor-local checkpoint storage. (Each invocation recomputes all
    stages — there is deliberately no skip-if-exists: silently reusing a
    stage written from DIFFERENT input would be wrong, and this function
    cannot know.) The corpus stages keep their materialized ``_toks``
    arrays on disk (the single-tokenizer-pass contract survives the
    round-trip). This mode keeps the staged chain because each stage
    must be its own dataset, written from its own upstream dataset so
    lineage auto-capture records one edge per stage boundary.

    The chain pays the tokenizer regex — the CPU hot spot of every
    text-derived stage — exactly ONCE: the exact-dedup survivors carry a
    materialized token-array column, the shingle index for MinHash
    derives from it, and the quality filter reuses it instead of
    re-tokenizing. Likewise the near-dup graph is resolved to clusters
    ONCE and shared by the near-dedup anti-join and the leakage-safe
    split keys (both previously re-ran connected components).
    """

    spark = docs.sparkSession

    def _persist(df: DataFrame, stage: str) -> DataFrame:
        from sql_data_warehouse_analytics_project_spark.sources.writers import (
            write_dataset,
        )

        path = f"{write_through.rstrip('/')}/{stage}"
        write_dataset(df, path)
        # explicit schema: an all-rows-filtered stage can legally write
        # zero part files, where schema inference would fail
        return spark.read.schema(df.schema).parquet(path)

    # Stage pins stay EAGER: every boundary feeds multiple consumers
    # (the next stage AND the report/audit legs), and a lazy pin turns
    # those consumers into concurrent leaf stages racing on the
    # unmaterialized partitions' block locks (measured ~2x wall on the
    # funnel) — see the policy note in llm/dedup.shingle-index docstring.
    def _boundary(df: DataFrame, stage: str) -> DataFrame:
        return (
            _persist(df, stage)
            if write_through is not None
            else df.localCheckpoint()
        )

    # one tokenizer pass over the survivors; the checkpoint materializes
    # the arrays so every downstream stage reads them instead of re-running
    # the regex split (three passes before this sharing, one after)
    exact_tok = _boundary(
        D.exact_dedup(docs, id_col, text_col).withColumn(
            "_toks", T.tokens(text_col)
        ),
        "exact",
    )
    exact = exact_tok.drop("_toks")
    # the shingle index is a stage boundary too: pinned for the session in
    # the default mode, persisted as its own auditable dataset under
    # write_through — which also keeps the lineage auto-capture chain
    # intact (a localCheckpoint severs plan provenance, so the pairs
    # dataset would otherwise record no source edge)
    sh = _boundary(
        D.shingle_index(exact_tok, id_col, text_col, tokens_col="_toks"),
        "shingles",
    )
    # pairs are tiny (near-dup density, not corpus size) and feed BOTH the
    # near-dedup anti-join and the split keys — materialize once so the
    # 64-hash MinHash pipeline never re-executes downstream
    pairs = _boundary(
        D.minhash_dedup_pairs(
            exact, id_col, threshold=near_dup_threshold, index=sh
        ),
        "pairs",
    )
    # one connected-components resolution serves the anti-join AND the
    # split keys (clusters table is pairs-sized: checkpoint is cheap)
    clusters = _boundary(dup_clusters(pairs, "id_a", "id_b"), "clusters")
    near_tok_lazy = dedup_by_pairs(exact_tok, pairs, id_col, clusters=clusters)
    near_cols = [c for c in near_tok_lazy.columns if c != "_toks"]

    if write_through is None:
        # FUSED post-pairs chain (round-11 verdict next-round item 3):
        # everything after `pairs`/`clusters` is a NARROW map over the
        # pinned exact_tok — the anti-join against the (tiny) cluster
        # drop-list, the per-row filter signals, and the cluster-keyed
        # hash split — so the near/decisions/curated boundaries share
        # ONE corpus-width checkpoint carrying the decision and split
        # columns next to the documents, instead of three sequential
        # corpus-width materialization jobs plus a semi join to rebuild
        # the kept set from the id-keyed decisions table. Each returned
        # stage is a projection/filter of the pinned frame — identical
        # rows and columns to the staged form (the decision/split
        # expressions are pure per-row functions, so computing them on
        # all near rows and filtering afterwards ≡ filtering first).
        # The pin stays EAGER per the fan-out policy above.
        wide = leakage_safe_split(
            T._filter_decisions(
                near_tok_lazy,
                text_col,
                tokens_col="_toks",
                lang_name="_cf_lang",
                reasons_name="_cf_reasons",
                keep_name="_cf_keep",
                **(filter_kwargs or {}),
            ).drop("_toks"),  # decisions are computed — nothing after
            # the pin reads the token arrays, so they stay out of the
            # checkpoint (the staged path had to materialize them in
            # the `near` boundary because the filter ran after it)
            pairs,
            id_col,
            splits,
            clusters=clusters,
        ).localCheckpoint()
        near = wide.select(*near_cols)
        decisions = wide.select(
            F.col(id_col),
            F.col("_cf_lang").alias("lang"),
            F.col("_cf_reasons").alias("drop_reasons"),
            F.col("_cf_keep").alias("keep"),
        )
        curated = wide.filter(F.col("_cf_keep")).select(
            *near_cols, "split_key", "split"
        )
        return {
            "exact": exact,
            "pairs": pairs,
            "near": near,
            "decisions": decisions,
            "curated": curated,
        }

    # staged chain (write_through): one dataset per stage, each read
    # back before the next stage consumes it
    near_tok = _persist(near_tok_lazy, "near")
    near = near_tok.drop("_toks")
    decisions = _persist(
        T.corpus_filter(
            near_tok, id_col, text_col, tokens_col="_toks", **(filter_kwargs or {})
        ),
        "decisions",
    )
    kept = near.join(
        decisions.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    curated = _persist(
        leakage_safe_split(kept, pairs, id_col, splits, clusters=clusters),
        "curated",
    )
    return {
        "exact": exact,
        "pairs": pairs,
        "near": near,
        "decisions": decisions,
        "curated": curated,
    }


def curation_report(stages: Mapping[str, DataFrame], id_col: str = "doc_id") -> DataFrame:
    """One-row-per-stage funnel: how many documents each curation stage
    kept (four stage counts + a split breakdown) — call on a sampled
    corpus or budget a real run.

    The counts are LAZY single-row aggregates unioned into one plan, not
    eager ``count()`` actions: the caller's one action then runs every
    count in a single Spark job (``curate_corpus`` pins every stage, or
    persists it under ``write_through``, so each is one cheap scan),
    where four sequential driver actions previously paid four rounds of
    fixed job latency — pure scheduling overhead at any
    scale, and the stage counts are independent so nothing orders them."""

    def _stage_count(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )

    funnel = (
        _stage_count(stages["exact"], "exact_dedup")
        .unionByName(_stage_count(stages["near"], "near_dedup"))
        .unionByName(
            _stage_count(
                stages["decisions"].filter(F.col("keep")), "quality_filter"
            )
        )
        .unionByName(_stage_count(stages["curated"], "curated"))
    )
    by_split = (
        stages["curated"]
        .groupBy(F.concat(F.lit("curated_"), F.col("split")).alias("stage"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return funnel.unionByName(by_split)


def select_token_budget(
    docs: DataFrame,
    max_tokens: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality: "Column | None" = None,
) -> DataFrame:
    """Greedy quality-first corpus selection under a GLOBAL token budget:
    keep the highest-quality documents whose cumulative token count stays
    ≤ ``max_tokens`` — the "give me the best N-token training mix" cut
    that ends every curation funnel once the compute budget (tokens seen)
    is fixed, not the corpus size.

    Ordering is (quality DESC, id ASC) — total order, engine-portable;
    ``quality`` defaults to :func:`text.quality_score_expr`. The running
    token count comes from :func:`operators.windows.global_running_sum`
    (two-phase range-partitioned prefix sum), so the global order costs
    parallel partition sorts — never a single-task window — and the cut
    is exact integer arithmetic. A document is kept only if it fits
    ENTIRELY (prefix semantics: its own tokens count against the budget).

    Returns the selected docs with ``quality`` (rounded 6dp for display),
    ``n_tokens``, and ``running_tokens`` audit columns. Those three names
    (plus the internal ``_q``) are reserved: an input already carrying one
    is refused rather than silently overwritten (the same collision
    contract as ``global_running_sum``'s reserved columns — a caller's
    pre-computed ``n_tokens`` being replaced by this function's count
    would corrupt the audit trail without any visible error)."""
    from sql_data_warehouse_analytics_project_spark.operators.windows import (
        global_running_sum,
    )

    for reserved in ("_q", "n_tokens", "quality", "running_tokens"):
        if reserved in docs.columns:
            raise ValueError(
                f"select_token_budget: column {reserved!r} already exists "
                "— rename it (these are this function's output/audit "
                "columns and would be silently overwritten)"
            )
    q = quality if quality is not None else T.quality_score_expr(text_col)
    # Two-phase prefix sum over a THIN PROXY (id, _q, n_tokens), not the
    # full rows (guide §8: decide with small rows, move big rows once):
    # the range repartition inside global_running_sum evaluates its input
    # TWICE (the boundary-sampling pass, then the real exchange) and then
    # checkpoints it — with the text column riding along, that meant the
    # quality expression ran twice over the corpus and the text itself
    # crossed two exchanges and landed in the checkpoint. The proxy sorts
    # ~24 bytes/row; the selected ids (budget-bounded) re-attach to the
    # full rows with one id equi-join.
    proxy = docs.select(
        F.col(id_col),
        q.alias("_q"),
        T.token_count(text_col).cast("long").alias("n_tokens"),
    )
    cum = global_running_sum(
        proxy,
        [F.col("_q").desc(), F.col(id_col)],
        "n_tokens",
        "running_tokens",
    )
    selected = cum.filter(F.col("running_tokens") <= max_tokens)
    return (
        docs.join(selected, id_col)
        .withColumn("quality", F.round(F.col("_q"), 6))
        .drop("_q")
    )
